"""MOR grouped delta files: few shared files per commit instead of one tiny
file per touched group (engine analogue of the reference's rolling per-group
avro logs, HoodieAppendHandle.java:71,336-390 — parquet can't append, so
sharing bounds the small-file count instead).

Sharp edges covered:
- file count per commit is bounded by the batch, not the touched-group count
- subset compaction: stale rows of a compacted group sitting in a shared
  file must not resurrect into other groups' merged reads
- cleaning refcounts shared paths — a file is deleted only when no retained
  slice references it
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from incubator_hudi_spark import COPY_ON_WRITE, HudiTable, MERGE_ON_READ
from incubator_hudi_spark.fsview import FileSystemView
from incubator_hudi_spark.services import compaction as C


def _mor(spark, path, li, table_type=MERGE_ON_READ):
    t = HudiTable.create(
        spark, str(path), "t",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate, 'yyyy-MM')",
        precombine_field="l_shipdate", table_type=table_type)
    t.cfg = t.cfg.with_(inline_compaction=False)
    return t


def _delta_files(t):
    return [p for p in glob.glob(os.path.join(t.meta.data_path, "*", "log",
                                              "**", "*.parquet"),
                                 recursive=True)]


def test_grouped_write_bounds_file_count_and_matches_cow_twin(
        spark, tmp_table_path, lineitem):
    t = _mor(spark, tmp_table_path, lineitem)
    t.upsert(lineitem)
    upd = lineitem.limit(800).withColumn("l_quantity", F.lit(77.0))
    t.upsert(upd)
    touched_fgs = {sl.file_group for sl in t.view().latest_slices()
                   if sl.log_files}
    files = _delta_files(t)
    # the whole point: far fewer files than touched groups
    assert len(touched_fgs) > 10
    assert len(files) < len(touched_fgs) / 2
    snap = t.read()
    assert snap.filter("l_quantity = 77.0").count() == \
        upd.select("l_orderkey", "l_linenumber",
                   F.date_format("l_shipdate", "yyyy-MM")).distinct().count()
    # manifest records exact per-(group, file) membership
    total_entries = sum(len(sl.log_files)
                        for sl in t.view().latest_slices())
    assert total_entries == len(touched_fgs)     # one entry per touched group

    # a COW twin fed the same batches produces the same snapshot
    t2 = _mor(spark, tmp_table_path + "_cow", lineitem,
              table_type=COPY_ON_WRITE)
    t2.upsert(lineitem)
    t2.upsert(upd)
    a = snap.select(*[c for c in snap.columns if not c.startswith("_hoodie")])
    b = t2.read().select(*a.columns)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_subset_compaction_no_stale_resurrection(spark, tmp_table_path,
                                                 lineitem):
    """Compact ONE group whose rows sit in a shared delta file; later reads
    (which still scan that file for the other groups) must not resurrect the
    compacted group's stale log rows."""
    t = _mor(spark, tmp_table_path, lineitem)
    t.upsert(lineitem)
    upd = lineitem.limit(600).withColumn("l_quantity", F.lit(50.0))
    t.upsert(upd)                                  # shared delta file(s)
    dirty = [sl for sl in t.view().latest_slices() if sl.log_files]
    victim = dirty[0].file_group
    # compact only the victim group
    ct = C.schedule_compaction(t, partitions=[dirty[0].partition],
                               strategy=C.STRATEGY_UNBOUNDED)
    plan = t.timeline.read_metadata(
        __import__("incubator_hudi_spark.timeline",
                   fromlist=["Instant"]).Instant(ct, "compaction",
                                                 "requested"))
    assert any(op["file_group"] == victim for op in plan["operations"])
    C.run_compaction(t, ct)
    # newer update to the victim's keys AFTER compaction
    vict_keys = t.read().filter(f"_hoodie_file_name = '{victim}'") \
                 .limit(5).select("l_orderkey", "l_linenumber").collect()
    snap = t.read()
    # full snapshot: every (key, partition) appears exactly once
    dup = (snap.groupBy("l_orderkey", "l_linenumber",
                        "_hoodie_partition_path").count()
           .filter("count > 1").count())
    assert dup == 0
    assert snap.count() == t.read().count()
    # values survived the subset compaction
    assert snap.filter("l_quantity = 50.0").count() > 0


def test_cleaning_refcounts_shared_delta_files(spark, tmp_table_path,
                                               lineitem):
    t = _mor(spark, tmp_table_path, lineitem)
    t.cfg = t.cfg.with_(clean_retain_commits=1)
    t.upsert(lineitem)
    upd = lineitem.limit(600).withColumn("l_quantity", F.lit(60.0))
    t.upsert(upd)
    shared = set(_delta_files(t))
    assert shared
    dirty = [sl for sl in t.view().latest_slices() if sl.log_files]
    # compact a strict subset of the dirty groups, then clean aggressively
    ct = C.schedule_compaction(t, partitions=[dirty[0].partition],
                               strategy=C.STRATEGY_UNBOUNDED)
    C.run_compaction(t, ct)
    from incubator_hudi_spark.services.cleaning import run_clean
    # push the retention window forward with more commits
    for i in range(3):
        t.upsert(lineitem.limit(50).withColumn("l_quantity", F.lit(61.0 + i)))
    run_clean(t)
    # other groups' slices still reference the shared delta file → it must
    # survive the clean even though the compacted group no longer needs it
    still_referenced = {
        t.meta.abs_path(l.path)
        for sl in t.view().latest_slices() for l in sl.log_files}
    for p in shared & still_referenced:
        assert os.path.exists(p), f"refcounted shared file deleted: {p}"
    # snapshot still exact
    snap = t.read()
    assert snap.groupBy("l_orderkey", "l_linenumber",
                        "_hoodie_partition_path").count() \
               .filter("count > 1").count() == 0


# ---- Spark jobs per commit, one case per MOR lane ----------------------

def test_jobs_per_commit_mor_update_only(spark, tmp_table_path, lineitem,
                                         spark_jobs, timeline_listings):
    """Also pins the active-timeline listings per commit: the batch lists
    once and every step of its lane reuses that snapshot."""
    t = _mor(spark, tmp_table_path, lineitem)
    t.upsert(lineitem)
    listings = []

    def commit(q):
        listings.append(timeline_listings(lambda: t.upsert(
            lineitem.filter("l_orderkey % 5 = 1").withColumn("l_quantity",
                                                             F.lit(q)))))
    counts = [spark_jobs(lambda q=q: commit(q)) for q in (1.0, 2.0, 3.0)]
    assert counts == [9, 9, 9]
    # the batch's one listing and the post-commit services' one
    assert listings == [2, 2, 2], listings


def test_jobs_per_commit_mor_bootstrap_group(spark, tmp_path, lineitem,
                                             spark_jobs):
    """Updates into a metadata_only bootstrap group rewrite it copy-on-
    write; the rest of the batch appends deltas."""
    src = str(tmp_path / "legacy")
    (lineitem.withColumn("month", F.date_format("l_shipdate", "yyyy-MM"))
     .repartition(4).write.partitionBy("month").parquet(src))
    t = _mor(spark, tmp_path / "t", lineitem)
    t.bootstrap(src, mode="metadata_only")
    batches = [lineitem.filter(w).withColumn("l_quantity", F.lit(q))
               for w, q in (("l_orderkey % 50 = 1", 1.0),
                            ("l_orderkey % 5 = 1", 2.0),
                            ("l_orderkey % 5 = 1", 3.0))]
    counts = [spark_jobs(lambda b=b: t.upsert(b)) for b in batches]
    ext = [sl for sl in t.view().latest_slices()
           if any(f.external for f in sl.base_files)]
    assert ext, "test premise: bootstrap groups remain"
    assert counts == [15, 14, 11]
