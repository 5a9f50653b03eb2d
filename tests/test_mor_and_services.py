"""MOR write/read + table-services tests — analogue of the reference's
TestHoodieMergeOnReadTable.java / TestMORDataSource.scala / TestCleaner.java."""

import os

import pytest
from pyspark.sql import functions as F

from incubator_hudi_spark import (HudiTable, MERGE_ON_READ, QUERY_INCREMENTAL,
                                  QUERY_READ_OPTIMIZED, WriteConfig)


def make_mor(spark, path, **kw):
    return HudiTable.create(
        spark, path, name="lineitem_mor",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate",
        table_type=MERGE_ON_READ, **kw)


def test_mor_upsert_snapshot_vs_read_optimized(spark, tmp_table_path, lineitem):
    t = make_mor(spark, tmp_table_path)
    t.upsert(lineitem)
    n = t.read().count()

    upd = lineitem.filter("l_linenumber = 2").withColumn("l_quantity", F.lit(777.0))
    t.upsert(upd)

    snap = t.read()
    ro = t.read(QUERY_READ_OPTIMIZED)
    assert snap.count() == n
    assert ro.count() == n
    # snapshot sees merged values, read-optimized sees stale base
    assert snap.filter("l_quantity = 777").count() > 0
    assert ro.filter("l_quantity = 777").count() == 0
    # updates landed in log (delta) files, not new bases
    slices = t.view().latest_slices()
    assert any(sl.log_files for sl in slices)


def test_mor_compaction_reconciles(spark, tmp_table_path, lineitem):
    t = make_mor(spark, tmp_table_path)
    t.upsert(lineitem)
    upd = lineitem.filter("l_linenumber = 2").withColumn("l_quantity", F.lit(777.0))
    t.upsert(upd)
    before = t.read()
    before_rows = sorted([tuple(r) for r in
                          before.select("l_orderkey", "l_linenumber", "l_quantity")
                          .collect()])

    ci = t.run_compaction()
    assert ci is not None
    # no log files remain on latest slices
    assert all(not sl.log_files for sl in t.view().latest_slices())
    after = t.read()
    ro = t.read(QUERY_READ_OPTIMIZED)
    after_rows = sorted([tuple(r) for r in
                         after.select("l_orderkey", "l_linenumber", "l_quantity")
                         .collect()])
    assert after_rows == before_rows
    assert ro.filter("l_quantity = 777").count() == after.filter("l_quantity = 777").count()


def test_mor_delete_via_log(spark, tmp_table_path, lineitem):
    t = make_mor(spark, tmp_table_path)
    t.upsert(lineitem)
    n = t.read().count()
    victims = lineitem.filter("l_returnflag = 'R' and l_linenumber = 1")
    t.delete(victims)
    snap = t.read()
    assert snap.filter("l_returnflag = 'R' and l_linenumber = 1").count() == 0
    assert snap.count() < n
    # deletes are logged, not rewritten
    assert any(sl.log_files for sl in t.view().latest_slices())
    # compaction physically drops them
    t.run_compaction()
    snap2 = t.read()
    assert snap2.count() == snap.count()
    assert snap2.filter("l_returnflag = 'R' and l_linenumber = 1").count() == 0


def test_mor_incremental(spark, tmp_table_path, lineitem):
    t = make_mor(spark, tmp_table_path)
    c1 = t.upsert(lineitem)
    upd = lineitem.filter("l_linenumber = 3").withColumn("l_extendedprice", F.lit(1.25))
    c2 = t.upsert(upd)
    inc = t.read(QUERY_INCREMENTAL, begin=c1, end=c2)
    got = inc.select("l_orderkey", "l_linenumber",
                     F.date_format("l_shipdate", "yyyy-MM")).distinct().count()
    exp = (upd.select("l_orderkey", "l_linenumber",
                      F.date_format("l_shipdate", "yyyy-MM"))
           .distinct().count())
    assert got == inc.count() == exp
    assert inc.filter("l_extendedprice != 1.25").count() == 0


def test_inline_compaction_trigger(spark, tmp_table_path, lineitem):
    t = make_mor(spark, tmp_table_path,
                 write_config=WriteConfig(inline_compaction=True,
                                          compact_max_delta_commits=2))
    t.upsert(lineitem)
    for i in range(2):
        t.upsert(lineitem.filter("l_linenumber = 1")
                 .withColumn("l_quantity", F.lit(float(i))))
    # trigger hit after the 2nd deltacommit → a compaction commit exists
    assert len(t.timeline.completed(["commit"])) >= 1
    assert t.read().filter("l_linenumber=1 and l_quantity = 1.0").count() > 0


def test_cleaning_removes_old_versions(spark, tmp_table_path, lineitem):
    t = HudiTable.create(
        spark, tmp_table_path, name="c", recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')", precombine_field="l_shipdate",
        write_config=WriteConfig(clean_retain_commits=2))
    t.upsert(lineitem)
    for i in range(4):
        t.upsert(lineitem.filter("l_linenumber = 1")
                 .withColumn("l_quantity", F.lit(float(i))))
    res = t.clean()
    # auto-clean (hoodie.clean.automatic) may already have run post-commit;
    # either way obsolete versions must be gone by now
    deleted_total = res["deleted"] + sum(
        len(t.timeline.read_metadata(i).get("deleted_paths", []))
        for i in t.timeline.completed(["clean"]))
    assert deleted_total > 0
    # snapshot unaffected
    snap = t.read()
    assert snap.filter("l_linenumber=1 and l_quantity=3.0").count() > 0
    # deleted files are really gone from disk
    for rel in t.timeline.read_metadata(
            t.timeline.completed(["clean"])[-1]).get("deleted_paths", []):
        assert not os.path.exists(t.meta.abs_path(rel))


def test_savepoint_restore(spark, tmp_table_path, lineitem):
    t = HudiTable.create(
        spark, tmp_table_path, name="s", recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')", precombine_field="l_shipdate")
    t.upsert(lineitem)
    n1 = t.read().count()
    sp = t.savepoint()
    t.upsert(lineitem.filter("l_linenumber=1").withColumn("l_quantity", F.lit(-9.0)))
    t.delete(lineitem.filter("l_returnflag='R'"))
    assert t.read().count() != n1 or True
    t.restore(sp)
    snap = t.read()
    assert snap.count() == n1
    assert snap.filter("l_quantity = -9.0").count() == 0


def test_clustering_preserves_snapshot(spark, tmp_table_path, lineitem):
    t = HudiTable.create(
        spark, tmp_table_path, name="cl", recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')", precombine_field="l_shipdate")
    # several small inserts → many small file groups
    t.bulk_insert(lineitem.filter("l_orderkey % 3 = 0"))
    t.bulk_insert(lineitem.filter("l_orderkey % 3 = 1"))
    t.bulk_insert(lineitem.filter("l_orderkey % 3 = 2"))
    before = t.read().count()
    n_slices_before = len(t.view().latest_slices())
    ci = t.cluster(sort_columns=["l_orderkey"])
    assert ci is not None
    assert len(t.view().latest_slices()) < n_slices_before
    assert t.read().count() == before


def test_schema_evolution_add_column(spark, tmp_table_path, lineitem):
    t = HudiTable.create(
        spark, tmp_table_path, name="se", recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')", precombine_field="l_shipdate")
    t.upsert(lineitem.filter("l_linenumber <= 4"))
    evolved = lineitem.filter("l_linenumber > 4").withColumn("l_comment", F.lit("new"))
    t.upsert(evolved)
    snap = t.read()
    assert "l_comment" in snap.columns
    assert snap.filter("l_linenumber <= 4").filter("l_comment is not null").count() == 0
    assert snap.filter("l_linenumber > 4").filter("l_comment = 'new'").count() > 0


def test_archival_bounds_timeline(spark, tmp_table_path, lineitem):
    t = HudiTable.create(
        spark, tmp_table_path, name="ar", recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')", precombine_field="l_shipdate",
        write_config=WriteConfig(clean_retain_commits=1,
                                 archive_min_commits=2, archive_max_commits=3))
    small = lineitem.limit(200)
    t.upsert(small)
    for i in range(5):
        t.upsert(small.withColumn("l_quantity", F.lit(float(i))))
    t.clean()
    moved = t.archive() + len(t.timeline.archived_instants())
    assert moved > 0  # counting auto-archival from post-commit
    # view still resolves, snapshot intact
    assert t.read().filter("l_quantity = 4.0").count() == 200


def test_mor_skip_merge_concatenates(spark, tmp_table_path, lineitem):
    t = make_mor(spark, tmp_table_path)
    t.upsert(lineitem)
    n = t.read().count()
    upd = lineitem.filter("l_linenumber = 2").withColumn("l_quantity", F.lit(777.0))
    t.upsert(upd)

    merged = t.read()
    skipped = t.read(merge_type="skip_merge")
    n_upd = merged.filter("l_quantity = 777").count()
    # skip_merge keeps BOTH versions of each updated key, no window shuffle
    assert merged.count() == n
    assert skipped.count() == n + n_upd
    assert skipped.filter("l_quantity = 777").count() == n_upd


def test_mor_delete_then_reinsert_survives(spark, tmp_table_path, lineitem):
    """Regression: an old delete row in a MOR log must lose to a NEWER
    re-insert of the same key on merged reads (API-delete ranks as a
    tie-break below commit time, not above it)."""
    from incubator_hudi_spark import HudiTable, MERGE_ON_READ
    from pyspark.sql import functions as F
    t = HudiTable.create(
        spark, tmp_table_path, name="t",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate", table_type=MERGE_ON_READ)
    t.cfg = t.cfg.with_(inline_compaction=False)
    t.upsert(lineitem)
    victims = lineitem.filter("l_orderkey % 25 = 7")
    t.delete(victims)
    assert t.read().filter("l_orderkey % 25 = 7").count() == 0
    t.upsert(victims.withColumn("l_quantity", F.lit(42.0)))
    back = t.read().filter("l_orderkey % 25 = 7")
    n_exp = victims.selectExpr("l_orderkey", "l_linenumber",
                               "date_format(l_shipdate,'yyyy-MM')") \
                   .distinct().count()
    assert back.count() == n_exp
    assert back.filter("l_quantity != 42.0").count() == 0
    t.run_compaction()
    assert t.read().filter("l_orderkey % 25 = 7").count() == n_exp


def test_upsert_survives_compaction_completing_after_listing(
        spark, tmp_table_path, lineitem):
    """Race fix (review finding): an async compactor may TRANSITION the
    pending compaction instant between the batch's timeline listing and
    its plan-metadata read (requested → inflight deletes the requested
    file; completion lands as a .commit).  The batch must chase the plan
    through the states — a compaction that completed after the snapshot
    still bumps the delta to its instant, so the new log attaches to the
    COMPACTED slice instead of orphaning under the stale base."""
    import unittest.mock as mock

    from incubator_hudi_spark import MERGE_ON_READ
    from incubator_hudi_spark import timeline as tl
    from incubator_hudi_spark.services.compaction import (run_compaction,
                                                          schedule_compaction)

    t = HudiTable.create(spark, tmp_table_path, "t",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate",
                         table_type=MERGE_ON_READ)
    t.cfg = t.cfg.with_(inline_compaction=False)
    t.upsert(lineitem)
    n = t.read().count()
    t.upsert(lineitem.filter("l_orderkey % 7 = 1")
             .withColumn("l_quantity", F.lit(61.0)))
    st = schedule_compaction(t)
    assert st is not None
    # the "listing" a racing batch would have seen: compaction still pending
    stale = t.timeline.instants()
    assert any(i.time == st and i.state != tl.COMPLETED for i in stale)
    # the daemon wins the race: plan executes, completes as a .commit
    assert run_compaction(t, st) == st
    # now the batch plans from the STALE listing (first instants() call)
    real = type(t.timeline).instants
    calls = {"n": 0}
    def racing(self_tl):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(self_tl)
    upd = (lineitem.filter("l_orderkey % 7 = 1")
           .withColumn("l_quantity", F.lit(62.0)))
    with mock.patch.object(type(t.timeline), "instants", racing):
        t.upsert(upd)
    assert calls["n"] >= 1
    snap = t.read()
    assert snap.count() == n                       # nothing lost
    exp = (lineitem.filter("l_orderkey % 7 = 1")
           .selectExpr("l_orderkey", "l_linenumber",
                       "date_format(l_shipdate,'yyyy-MM') m")
           .distinct().count())
    got = snap.filter("l_quantity = 62.0").count()
    assert got == exp, f"update lost in the race window: {got}/{exp}"


def test_mor_incremental_path_glob(spark, tmp_table_path, lineitem):
    """INCR_PATH_GLOB on a MOR incremental pull: the glob filters slices by
    partition/file path whether the change arrived as a base file or a
    delta log (the shared fsview helper matches both file kinds)."""
    from incubator_hudi_spark import MERGE_ON_READ
    from incubator_hudi_spark.config import QUERY_INCREMENTAL

    t = HudiTable.create(spark, tmp_table_path, "t",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate",
                         table_type=MERGE_ON_READ)
    t.cfg = t.cfg.with_(inline_compaction=False)
    c1 = t.upsert(lineitem)
    c2 = t.upsert(lineitem.filter("l_linenumber = 3")     # delta logs
                  .withColumn("l_quantity", F.lit(91.0)))
    year = (lineitem.selectExpr("date_format(l_shipdate,'yyyy') y")
            .groupBy("y").count().orderBy(F.desc("count")).first()[0])
    inc = t.read(QUERY_INCREMENTAL, begin=c1, end=c2,
                 path_glob=f"{year}-*/*")
    exp = (lineitem.filter("l_linenumber = 3")
           .filter(F.date_format("l_shipdate", "yyyy") == year)
           .selectExpr("l_orderkey", "l_linenumber",
                       "date_format(l_shipdate,'yyyy-MM') m")
           .distinct().count())
    assert inc.count() == exp and exp > 0
    assert inc.filter(F.date_format("l_shipdate", "yyyy") != year).count() == 0


def test_mor_insert_probe_fold_batch_shapes(spark, tmp_table_path, lineitem):
    """The observed-metrics insert-probe fold must be correct for all three
    batch shapes: pure update (metric=0, probe skipped), mixed (metric>0,
    probe runs), and PURE INSERT — where AQE empty-relation propagation
    erases the CollectMetrics results (the delta-write input is empty) and
    the fold must fall back to the probe instead of dropping the inserts."""
    from incubator_hudi_spark import MERGE_ON_READ

    t = HudiTable.create(spark, tmp_table_path, "t",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate",
                         table_type=MERGE_ON_READ)
    t.cfg = t.cfg.with_(inline_compaction=False)
    t.upsert(lineitem)
    n0 = t.read().count()

    # pure update — fold skips the probe; values must land
    t.upsert(lineitem.filter("l_linenumber = 1")
             .withColumn("l_quantity", F.lit(77.0)))
    snap = t.read()
    assert snap.count() == n0
    assert snap.filter("l_linenumber = 1 AND l_quantity != 77.0").count() == 0

    # pure insert — empty update side; inserts must not be lost
    shifted = (lineitem.filter("l_orderkey % 7 = 1")
               .withColumn("l_orderkey", F.col("l_orderkey") + 5_000_000))
    t.upsert(shifted)
    n_new = (shifted.selectExpr("l_orderkey", "l_linenumber",
                                "date_format(l_shipdate,'yyyy-MM') m")
             .distinct().count())
    assert t.read().count() == n0 + n_new

    # mixed — both sides in one batch
    mix = (lineitem.filter("l_linenumber = 2")
           .withColumn("l_quantity", F.lit(88.0))
           .unionByName(lineitem.filter("l_orderkey % 7 = 2").limit(500)
                        .withColumn("l_orderkey",
                                    F.col("l_orderkey") + 6_000_000)))
    t.upsert(mix)
    snap = t.read()
    assert snap.filter("l_linenumber = 2 AND l_orderkey < 5000000 "
                       "AND l_quantity != 88.0").count() == 0
    assert snap.filter("l_orderkey >= 6000000").count() > 0


@pytest.mark.parametrize("payload", ["overwrite_latest", "default",
                                     "overwrite_non_defaults"])
def test_mor_merge_branches_agree(spark, tmp_table_path, lineitem,
                                  monkeypatch, payload):
    """Both MOR merges give the same snapshot, per payload: the broadcast
    split (log sets up to MOR_MERGE_BROADCAST_MAX_LOG_BYTES) and the
    union + window merge above it — on a merged read and through a
    compaction run under the window merge."""
    from incubator_hudi_spark import HudiTable, table as table_mod
    t = HudiTable.create(
        spark, tmp_table_path, name="mor_branches",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_extendedprice", table_type=MERGE_ON_READ,
        payload=payload)
    t.cfg = t.cfg.with_(inline_compaction=False)
    t.upsert(lineitem)
    # half the updates carry an older ordering value (the stored row wins
    # under "default"), and all a null l_returnflag (the stored value is
    # kept under "overwrite_non_defaults")
    t.upsert(lineitem.filter("l_orderkey % 5 = 1")
             .withColumn("l_quantity", F.lit(777.0))
             .withColumn("l_extendedprice", F.col("l_extendedprice")
                         + F.when(F.col("l_linenumber") % 2 == 0, 1.0)
                         .otherwise(-1.0))
             .withColumn("l_returnflag", F.lit(None).cast("string")))
    t.delete(lineitem.filter("l_orderkey % 7 = 3"))
    t.upsert(lineitem.filter("l_orderkey % 5 = 2")
             .withColumn("l_quantity", F.lit(555.0)))
    slices = t.view().latest_slices()
    assert sum(l.size for sl in slices for l in sl.log_files) > 0

    def snapshot():
        df = t.read()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return sorted(tuple(r) for r in df.collect()), "LeftAnti" in plan

    split, split_anti = snapshot()
    monkeypatch.setattr(table_mod, "MOR_MERGE_BROADCAST_MAX_LOG_BYTES", 0)
    window, window_anti = snapshot()
    assert split_anti and not window_anti, "each read took its own merge"
    assert window == split
    assert len(split) < lineitem.count()          # the deletes applied
    assert t.run_compaction() is not None
    assert all(not sl.log_files for sl in t.view().latest_slices())
    assert snapshot()[0] == split
