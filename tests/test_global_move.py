"""Global-index update-partition-path: updates MOVE records across
partitions (delete-in-old + insert-in-new,
SparkHoodieGlobalBloomIndex.java:143)."""

import os

import pytest
from pyspark.sql import functions as F

import incubator_hudi_spark.table as table_mod
from incubator_hudi_spark import MERGE_ON_READ, HudiTable, WriteConfig


# COW runs both of its tag-first shapes: under the default broadcast cap
# the exact-tag anti-join rewrite, with the cap at 0 the window merge
@pytest.mark.parametrize("table_type,cap", [
    pytest.param("COPY_ON_WRITE", None, id="COPY_ON_WRITE"),
    pytest.param("COPY_ON_WRITE", 0, id="COPY_ON_WRITE-window_merge"),
    pytest.param(MERGE_ON_READ, None, id="MERGE_ON_READ")])
def test_update_partition_path_moves_record(spark, tmp_path, monkeypatch,
                                            table_type, cap):
    if cap is not None:
        monkeypatch.setattr(table_mod, "INDEX_BROADCAST_MAX_ROWS", cap)
    df = spark.createDataFrame(
        [(1, "2020-01-05", 10.0), (2, "2020-03-01", 20.0),
         (3, "2021-06-01", 30.0)],
        "id long, d string, v double").withColumn("d", F.to_date("d"))
    t = HudiTable.create(
        spark, os.path.join(tmp_path, "t"), name="t",
        recordkey_fields=["id"], partition_expr="date_format(d,'yyyy')",
        precombine_field="d", table_type=table_type,
        write_config=WriteConfig(index_type="GLOBAL_SIMPLE",
                                 global_index_update_partition_path=True,
                                 inline_compaction=False))
    t.upsert(df)
    # move id=1 from 2020 → 2022; plain update for id=2
    t.upsert(spark.createDataFrame(
        [(1, "2022-02-02", 11.0), (2, "2020-03-09", 21.0)],
        "id long, d string, v double").withColumn("d", F.to_date("d")))
    rows = {r["id"]: (r["_hoodie_partition_path"], r["v"])
            for r in t.read().collect()}
    assert rows == {1: ("2022", 11.0), 2: ("2020", 21.0), 3: ("2021", 30.0)}
    # old partition no longer serves the moved key
    assert t.read(partitions=["2020"]).filter("id = 1").count() == 0


def test_sticky_default_keeps_partition(spark, tmp_path):
    df = spark.createDataFrame([(1, "2020-01-05", 10.0)],
                               "id long, d string, v double") \
        .withColumn("d", F.to_date("d"))
    t = HudiTable.create(
        spark, os.path.join(tmp_path, "t2"), name="t2",
        recordkey_fields=["id"], partition_expr="date_format(d,'yyyy')",
        precombine_field="d",
        write_config=WriteConfig(index_type="GLOBAL_SIMPLE"))
    t.upsert(df)
    t.upsert(spark.createDataFrame([(1, "2022-02-02", 11.0)],
                                   "id long, d string, v double")
             .withColumn("d", F.to_date("d")))
    r = t.read().collect()
    assert len(r) == 1 and r[0]["_hoodie_partition_path"] == "2020" \
        and r[0]["v"] == 11.0
