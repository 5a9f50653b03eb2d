"""The write batch built from SQL-expression projections
(writer.prepare_batch via HudiTable._prepare) against an independent
plain-Spark expectation: keygen Column expressions, a row_number window for
the preCombine survivor, and an explicit meta-first column order.  The
commit seqno is per-row unique but plan-dependent, so it is checked for
shape only."""

from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_hudi_spark import HudiTable
from incubator_hudi_spark.config import (INDEX_GLOBAL_SIMPLE, META_COLUMNS,
                                         META_COMMIT_SEQNO, META_COMMIT_TIME,
                                         META_PARTITION_PATH,
                                         META_RECORD_KEY)
from incubator_hudi_spark.keygen import (NON_PARTITIONED, TS_EPOCHMILLIS,
                                         timestamp_partition_expr)

INSTANT = "20261017101500123"
ODD = "odd `col name"

ROWS = [
    # (id, line, ts, epoch_ms, grp, qty, note)
    (1, 1, "2024-01-05 10:00:00", 1704448800000, "a", 1.0, "x"),
    (1, 1, "2024-02-05 10:00:00", 1707127200000, "a", 2.0, "y"),   # newer ts wins
    (2, 1, "2024-03-01 00:00:00", 1709251200000, "b", 5.0, "z"),
    (2, 1, "2024-03-01 00:00:00", 1709251200000, "b", 7.0, "z"),   # tie → qty
    (3, 1, None, 1709251200000, "a", 9.0, "n"),
    (3, 1, "2024-01-01 00:00:00", 1704067200000, "a", 1.0, "n"),   # null ts loses
    (4, 2, "2024-05-01 00:00:00", 1714521600000, "c", 3.0, None),
    (4, 2, "2024-05-01 00:00:00", 1714521600000, "c", 3.0, "w"),   # tie → note
    (5, 1, "2024-06-01 00:00:00", 1717200000000, "a", 4.0, "p"),
    (5, 2, "2024-06-02 00:00:00", 1717286400000, "b", 6.0, "q"),   # global: id 5
    (6, 1, "2024-07-01 00:00:00", 1719792000000, "c", 8.0, "r"),
    (6, 1, "2024-07-01 00:00:00", 1719792000000, "d", 8.0, "r"),   # 2 partitions
]

CASES = {
    "simple-key-field-partition": (["id"], "grp", "ts", False, ()),
    "complex-key-concat-partition": (["id", "line"],
                                     "concat_ws('/', grp, note)", "ts",
                                     False, ()),
    "timestamp-keygen": (["id", "line"],
                         timestamp_partition_expr("epoch_ms", TS_EPOCHMILLIS,
                                                  "yyyy/MM"), "ts", False, ()),
    "no-partition": (["id", "line"], None, "ts", False, ()),
    "no-precombine": (["id", "line"], "grp", None, False, ()),
    "global-index": (["id"], "grp", "ts", True, ()),
    "map-column": (["id", "line"], "grp", "ts", False, ("map",)),
    "carries-meta": (["id", "line"], "grp", "ts", False, ("meta",)),
    "quoted-name": (["id", "line"], "grp", "ts", False, ("odd",)),
}


def _batch(spark, extras):
    df = spark.createDataFrame(
        ROWS, "id int, line int, ts string, epoch_ms long, grp string, "
              "qty double, note string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    if "map" in extras:
        # derived from qty: twins equal on every orderable column carry
        # equal maps, so the survivor never depends on the map
        df = df.withColumn("attrs", F.create_map(F.lit("q"), F.col("qty")))
    if "meta" in extras:
        df = (df.withColumn(META_RECORD_KEY, F.lit("stale-key"))
                .withColumn(META_COMMIT_TIME, F.lit("00000000000000000")))
    if "odd" in extras:
        df = df.withColumn(ODD, F.concat(F.col("note"), F.lit("!")))
    return df


def _expected(df, fields, partition_expr, precombine, global_index):
    if len(fields) == 1:
        key = F.col(fields[0]).cast("string")
    else:
        key = F.concat_ws(",", *[F.concat_ws(":", F.lit(f),
                                             F.col(f).cast("string"))
                                 for f in fields])
    part = (F.expr(partition_expr).cast("string") if partition_expr
            else F.lit(NON_PARTITIONED))
    keyed = df.withColumn(META_RECORD_KEY, key) \
              .withColumn(META_PARTITION_PATH, part)
    by = [META_RECORD_KEY] + ([] if global_index else [META_PARTITION_PATH])
    if precombine:
        ties = sorted(f.name for f in df.schema.fields
                      if not f.name.startswith("_hoodie")
                      and f.name != precombine
                      and f.dataType.typeName() != "map")
        order = [_col(c).desc_nulls_last() for c in [precombine, *ties]]
        w = Window.partitionBy(*by).orderBy(*order)
        keyed = (keyed.withColumn("_rn", F.row_number().over(w))
                 .filter("_rn = 1").drop("_rn"))
    else:
        keyed = keyed.dropDuplicates(by)   # the input's twins are identical
    data = [c for c in df.columns if c not in META_COLUMNS]
    return keyed.select(F.lit(INSTANT).alias(META_COMMIT_TIME),
                        F.col(META_RECORD_KEY), F.col(META_PARTITION_PATH),
                        *[_col(c) for c in data])


def _col(name):
    return F.col("`" + name.replace("`", "``") + "`")


def _comparable(df):
    return df.select(*[F.to_json(_col(f.name)).alias(f.name)
                       if f.dataType.typeName() == "map" else _col(f.name)
                       for f in df.schema.fields])


@pytest.mark.parametrize("case", list(CASES))
def test_prepare_matches_plain_spark(spark, tmp_table_path, case):
    fields, partition_expr, precombine, global_index, extras = CASES[case]
    t = HudiTable.create(spark, tmp_table_path, "p", recordkey_fields=fields,
                         partition_expr=partition_expr,
                         precombine_field=precombine)
    if global_index:
        t.cfg = t.cfg.with_(index_type=INDEX_GLOBAL_SIMPLE)
    df = _batch(spark, extras)
    if not precombine:
        once = df.dropDuplicates(["id", "line"]).persist()
        df = once.unionByName(once)              # exact twins only
    got = t._prepare(df, INSTANT, combine=True)
    exp = _expected(df, fields, partition_expr, precombine, global_index)

    data = [c for c in df.columns if c not in META_COLUMNS]
    assert got.columns == [META_COMMIT_TIME, META_COMMIT_SEQNO,
                           META_RECORD_KEY, META_PARTITION_PATH, *data]
    got_fields = {f.name: f.dataType for f in got.schema.fields}
    assert [(f.name, got_fields[f.name]) for f in exp.schema.fields] \
        == [(f.name, f.dataType) for f in exp.schema.fields]

    seq = got.select(META_COMMIT_SEQNO).collect()
    assert all(r[0].startswith(INSTANT + "_") for r in seq)
    assert len({r[0] for r in seq}) == len(seq)

    rows = [Counter(map(tuple, _comparable(x).collect()))
            for x in (got.drop(META_COMMIT_SEQNO), exp)]
    assert rows[0] == rows[1]
