"""COW upsert shapes (table._write_batch): the fused profile lane
(_upsert_cow_fast), the exact tag over the key index, and the window merge.

The fused profile lane replaces the per-batch index-join profile with
driver-side key-range pruning of manifest stats; the exact tag (warm pinned
index, global indexes, bootstrap groups) names the exact rewrite set from
one tag-profile action; both write through the broadcast anti-join
rewrite.  These tests pin the properties that make that safe:
  - the rewrite set is a SUPERSET of the file groups holding batch keys
    (never loses a stored row);
  - file groups proven disjoint from the batch's key range are NOT
    rewritten (the pruning actually prunes);
  - mixed update+insert batches route updates to their existing groups and
    open new hash-bucketed groups for inserts, under a non-global and a
    global index alike;
  - a delete that empties a file group still writes an explicit empty base
    (the group must not resurrect its previous version);
  - the lanes' results are identical to the window merge's.
"""

import os

import pytest
from pyspark.sql import functions as F

import incubator_hudi_spark.table as table_mod
from incubator_hudi_spark import HudiTable, WriteConfig
from incubator_hudi_spark.config import (INDEX_BLOOM, INDEX_GLOBAL_BLOOM,
                                         INDEX_GLOBAL_SIMPLE)


def make_table(spark, path, **kw):
    return HudiTable.create(
        spark, path, name="li",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate", **kw)


def _instant_files(t, instant):
    d = t.meta.instant_data_dir(instant)
    out = []
    for root, _dirs, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _rewritten_fgs(t, instant):
    return {os.path.basename(os.path.dirname(p)).split("=", 1)[1]
            for p in _instant_files(t, instant)}


@pytest.mark.slow
def test_fast_lane_matches_general_lane(spark, tmp_table_path, lineitem,
                                        monkeypatch):
    """Same batch through both lanes → identical snapshots.  A broadcast
    cap below the batch sizes sends every batch of ``slow`` through the
    tag-profile lane and its window merge."""
    fast = make_table(spark, tmp_table_path + "_fast")
    slow = make_table(spark, tmp_table_path + "_slow")
    upd = (lineitem.filter("l_orderkey % 7 = 3")
           .withColumn("l_quantity", F.col("l_quantity") + 500.0))

    def write(t):
        t.upsert(lineitem)
        t.upsert(upd)
        t.delete(lineitem.filter("l_orderkey % 11 = 5"))
    write(fast)
    monkeypatch.setattr(table_mod, "INDEX_BROADCAST_MAX_ROWS", 100)
    write(slow)
    a, b = fast.read(), slow.read()
    cols = [c for c in a.columns if not c.startswith("_hoodie")]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_range_pruning_skips_disjoint_groups(spark, tmp_table_path, lineitem):
    """After a GLOBAL_SORT bulk load the file groups of a partition carry
    disjoint key ranges; an update touching one narrow key range must not
    rewrite every group."""
    t = make_table(
        spark, tmp_table_path,
        write_config=WriteConfig(target_file_size_bytes=64 * 1024))
    t.bulk_insert(lineitem)
    n_groups = len(t.view().latest_slices())
    assert n_groups > 10  # tiny target size → many groups
    # single-key update: the batch key range covers one group per partition
    one = (lineitem.orderBy("l_orderkey", "l_linenumber").limit(1)
           .withColumn("l_quantity", F.lit(9999.0)))
    c = t.upsert(one)
    rewritten = _rewritten_fgs(t, c)
    assert len(rewritten) < n_groups / 2
    assert t.read().filter("l_quantity = 9999.0").count() == 1


@pytest.mark.parametrize("index_type", [None, INDEX_GLOBAL_SIMPLE],
                         ids=["default", "GLOBAL_SIMPLE"])
def test_mixed_update_insert_batch(spark, tmp_table_path, lineitem,
                                   index_type):
    """The fused profile lane (default index) and the exact tag (global
    index) route a mixed batch alike: updates land in their groups, every
    insert opens a new group, no row is lost."""
    t = make_table(spark, tmp_table_path)
    if index_type is not None:
        t.cfg = t.cfg.with_(index_type=index_type)
    base = lineitem.filter("l_orderkey % 2 = 0")
    t.upsert(base)
    fgs_before = {sl.file_group for sl in t.view().latest_slices()}
    updates = (base.limit(200)
               .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
    inserts = lineitem.filter("l_orderkey % 2 = 1")
    c = t.upsert(updates.unionByName(inserts))
    snap = t.read()
    # inserts present, updates applied, no row lost; a record is the
    # (key, month) pair, or the key alone under a global index
    from pyspark.sql.window import Window
    ident = [F.col("l_orderkey"), F.col("l_linenumber")]
    if index_type is None:
        ident.append(F.date_format("l_shipdate", "yyyy-MM"))
    w = Window.partitionBy(*ident).orderBy(F.desc("l_shipdate"))
    exp = (base.unionByName(updates).unionByName(inserts)
           .withColumn("rn", F.row_number().over(w)).filter("rn=1"))
    # update rows win inside their record; count parity is enough here
    assert snap.count() == exp.count()
    assert (snap.filter("l_quantity > 1000").count()
            == updates.select(*ident).distinct().count())
    # inserts opened NEW file groups (the anti-join rewrite never packs
    # existing ones)
    new_fgs = _rewritten_fgs(t, c) - fgs_before
    assert new_fgs, "insert rows must open new file groups"
    ins = snap.join(inserts.select("l_orderkey").distinct(),
                    "l_orderkey", "left_semi")
    assert ins.filter(F.col("_hoodie_file_name").isin(*fgs_before)).count() == 0
    # the batch carries duplicate (key, month) twins — compare post-dedup
    exp_ins = (inserts
               .withColumn("rn", F.row_number().over(w)).filter("rn=1")
               .count())
    assert ins.count() == exp_ins


def test_delete_emptying_group_writes_empty_base(spark, tmp_table_path, lineitem):
    t = make_table(spark, tmp_table_path)
    part = (lineitem.select(F.date_format("l_shipdate", "yyyy-MM").alias("p"))
            .groupBy("p").count().orderBy("p").first()[0])
    t.upsert(lineitem)
    n_before = t.read().count()
    n_in_part = t.read().filter(
        F.col("_hoodie_partition_path") == part).count()
    assert n_in_part > 0
    victims = lineitem.filter(F.date_format("l_shipdate", "yyyy-MM") == part)
    c = t.delete(victims)
    # the emptied group has a new (empty) version at c — reads don't fall
    # back to the pre-delete file
    snap = t.read()
    assert snap.filter(F.col("_hoodie_partition_path") == part).count() == 0
    assert snap.count() == n_before - n_in_part > 0
    files = _instant_files(t, c)
    assert files, "delete commit must materialize versions for emptied groups"


def test_missing_stats_fall_back_to_rewrite(spark, tmp_table_path, lineitem):
    """Manifests without key stats → every candidate group is rewritten
    (conservative superset), never silently skipped."""
    t = make_table(spark, tmp_table_path)
    t.upsert(lineitem)
    # strip min/max keys from the last commit's manifest
    import json
    inst = t.timeline.last_completed()
    md = t.timeline.read_metadata(inst)
    for st in md.get("write_stats", []):
        st["min_key"] = None
        st["max_key"] = None
    with open(t.timeline._path(inst), "w") as f:
        json.dump(md, f)
    n_before = t.read().count()
    t2 = HudiTable.load(spark, tmp_table_path)
    one = (lineitem.orderBy("l_orderkey", "l_linenumber").limit(1)
           .withColumn("l_quantity", F.lit(7777.0)))
    t2.upsert(one)
    snap = t2.read()
    assert snap.filter("l_quantity = 7777.0").count() == 1
    assert snap.count() == n_before


def _point_fix(lineitem, q, *tables):
    """Upsert a point-fix batch (~12 keys, fewer than half the file groups)
    into each table: the next batch of a table with a pinned index then
    takes the warm_tag probe."""
    fix = (lineitem.filter("l_orderkey % 500 = 7")
           .withColumn("l_quantity", F.lit(q)))
    for t in tables:
        t.upsert(fix)


def _warm_table(spark, path, lineitem):
    from incubator_hudi_spark.config import INDEX_INMEMORY
    t = make_table(spark, path)
    t.cfg = t.cfg.with_(index_type=INDEX_INMEMORY)
    t.bulk_insert(lineitem)
    t.upsert(lineitem.limit(0))            # no-op warms nothing; real warm:
    t.upsert(lineitem.filter("l_orderkey % 97 = 0")
             .withColumn("l_quantity", F.lit(1.0)))   # loads + pins index
    _point_fix(lineitem, 1.0, t)
    assert t._key_index is not None
    return t


@pytest.mark.slow
def test_warm_tag_probe_matches_profile_lane(spark, tmp_table_path, lineitem):
    """warm_tag probe strategy (exact tag-profile over the pinned index,
    no per-batch workload profile) produces snapshots identical to the
    default profile strategy for update-only, mixed update+insert (incl. a
    brand-new partition), and delete batches."""
    warm = _warm_table(spark, tmp_table_path + "_wt", lineitem)
    base = make_table(spark, tmp_table_path + "_pf")
    # BLOOM has no session index cache → the warm probe is never possible
    base.cfg = base.cfg.with_(index_type=INDEX_BLOOM)
    base.bulk_insert(lineitem)
    base.upsert(lineitem.limit(0))
    base.upsert(lineitem.filter("l_orderkey % 97 = 0")
                .withColumn("l_quantity", F.lit(1.0)))
    _point_fix(lineitem, 1.0, base)

    # 1. update-only
    upd = (lineitem.filter("l_orderkey % 11 = 4")
           .withColumn("l_quantity", F.lit(77.0)))
    warm.upsert(upd)
    base.upsert(upd)
    # the update-only batch kept the cache + the exact lane ran
    assert warm._last_probe_mode == "warm_tag"
    assert base._last_probe_mode == "profile"
    assert warm._key_index is not None

    # 2. mixed: updates + inserts into existing AND brand-new partitions
    ins_new = (lineitem.filter("l_orderkey % 13 = 2")
               .withColumn("l_orderkey", F.col("l_orderkey") + 9_000_000)
               .withColumn("l_shipdate", F.expr("l_shipdate + INTERVAL 40 YEARS")))
    mixed = upd.withColumn("l_quantity", F.lit(78.0)).unionByName(ins_new)
    _point_fix(lineitem, 2.0, warm, base)
    warm.upsert(mixed)
    base.upsert(mixed)
    assert warm._last_probe_mode == "warm_tag"

    # 3. delete a slice of keys
    dels = lineitem.filter("l_orderkey % 19 = 6")
    _point_fix(lineitem, 3.0, warm, base)
    warm.delete(dels.select("l_orderkey", "l_linenumber", "l_shipdate"))
    base.delete(dels.select("l_orderkey", "l_linenumber", "l_shipdate"))
    assert warm._last_probe_mode == "warm_tag"

    a = warm.read().drop("_hoodie_commit_time", "_hoodie_file_name",
                         "_hoodie_commit_seqno")
    b = base.read().drop("_hoodie_commit_time", "_hoodie_file_name",
                         "_hoodie_commit_seqno")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_warm_tag_exact_rewrite_set(spark, tmp_table_path, lineitem):
    """With warm_tag the rewrite set is EXACT: a partition-local update
    rewrites files only in the touched partition."""
    warm = _warm_table(spark, tmp_table_path, lineitem)
    part = (lineitem.selectExpr("date_format(l_shipdate,'yyyy-MM') m")
            .groupBy("m").count().orderBy(F.desc("count")).first()[0])
    loc = (lineitem.filter(F.date_format("l_shipdate", "yyyy-MM") == part)
           .withColumn("l_quantity", F.lit(55.0)))
    c = warm.upsert(loc)
    assert warm._last_probe_mode == "warm_tag"
    touched_parts = {s.partition for s in warm.view().latest_slices()
                     if s.base_instant == c}
    assert touched_parts == {part}, touched_parts
    got = warm.read().filter("l_quantity = 55.0").count()
    exp = loc.selectExpr("l_orderkey", "l_linenumber",
                         "date_format(l_shipdate,'yyyy-MM') m").distinct().count()
    assert got == exp


def test_warm_tag_frozen_group_conflict(spark, tmp_table_path, lineitem):
    """warm_tag's exact set makes the frozen-group check driver-side: an
    update into a clustering-frozen group raises immediately."""
    from incubator_hudi_spark.config import INDEX_INMEMORY
    from incubator_hudi_spark.services.clustering import (
        ClusteringUpdateConflict, schedule_clustering)
    warm = HudiTable.create(
        spark, tmp_table_path, name="li",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy')",
        precombine_field="l_shipdate")
    # tiny target size → several groups per partition → clusterable plan
    warm.cfg = warm.cfg.with_(index_type=INDEX_INMEMORY,
                              target_file_size_bytes=64 * 1024)
    warm.bulk_insert(lineitem)
    warm.upsert(lineitem.filter("l_orderkey % 97 = 0")
                .withColumn("l_quantity", F.lit(1.0)))
    _point_fix(lineitem, 2.0, warm)
    assert warm._key_index is not None
    st = schedule_clustering(warm, sort_columns=["l_orderkey"])
    assert st is not None
    with pytest.raises(ClusteringUpdateConflict):
        warm.upsert(lineitem.withColumn("l_quantity", F.lit(9.0)))
    assert warm._last_probe_mode == "warm_tag"


def test_auto_probe_routes_by_spread(spark, tmp_table_path, lineitem):
    """The fast lane routes its probe per batch on the carried spread
    signal: point-fix batches (keys ≪ groups) take the exact warm_tag
    lane; full-spread batches (keys ≥ groups) take the fused profile
    lane.  First batch has no history → profile."""
    from incubator_hudi_spark.config import INDEX_INMEMORY
    t = make_table(spark, tmp_table_path)
    t.cfg = t.cfg.with_(index_type=INDEX_INMEMORY)
    t.bulk_insert(lineitem)
    tiny = (lineitem.filter("l_orderkey % 500 = 7")
            .withColumn("l_quantity", F.lit(5.0)))
    t.upsert(tiny)                                   # no history → profile
    assert t._last_probe_mode == "profile"
    t.upsert(tiny.withColumn("l_quantity", F.lit(6.0)))
    assert t._last_probe_mode == "warm_tag"          # sparse history
    spread = lineitem.withColumn("l_quantity", F.lit(7.0))
    t.upsert(spread)                                 # history still sparse
    t.upsert(spread.withColumn("l_quantity", F.lit(8.0)))
    assert t._last_probe_mode == "profile"           # spread history
    # values all landed regardless of lane routing
    assert t.read().filter("l_quantity = 8.0").count() == t.read().count()


# ---- Spark jobs per commit, one case per COW lane ----------------------
# Pinned so a refactor of the upsert path cannot add (or silently drop) a
# Spark action.  A first upsert into a table seeds the routing history and
# the key index, so the steady-state commit is the one after it.

def _cow_table(spark, path, lineitem, **cfg):
    from incubator_hudi_spark.config import INDEX_INMEMORY
    t = make_table(spark, path)
    t.cfg = t.cfg.with_(**{"index_type": INDEX_INMEMORY, **cfg})
    t.bulk_insert(lineitem)
    return t


def _updates(lineitem, where, q):
    return lineitem.filter(where).withColumn("l_quantity", F.lit(q))


def test_jobs_per_commit_cow_profile_lane(spark, tmp_table_path, lineitem,
                                          spark_jobs):
    t = _cow_table(spark, tmp_table_path, lineitem)
    counts = [spark_jobs(lambda q=q: t.upsert(
        _updates(lineitem, "l_orderkey % 5 = 1", q))) for q in (1.0, 2.0, 3.0)]
    assert t._last_probe_mode == "profile"
    assert counts == [11, 9, 9]


def test_jobs_per_commit_cow_warm_tag_lane(spark, tmp_table_path, lineitem,
                                           spark_jobs):
    t = _cow_table(spark, tmp_table_path, lineitem)
    counts = [spark_jobs(lambda q=q: t.upsert(
        _updates(lineitem, "l_orderkey % 500 = 7", q))) for q in (1.0, 2.0, 3.0)]
    assert t._last_probe_mode == "warm_tag"
    assert counts == [11, 16, 12]


def test_jobs_per_commit_cow_window_merge(spark, tmp_table_path, lineitem,
                                          spark_jobs, timeline_listings,
                                          monkeypatch):
    """Also pins the active-timeline listings per commit: the batch lists
    once and every step of its lane reuses that snapshot."""
    from incubator_hudi_spark.config import INDEX_SIMPLE
    monkeypatch.setattr(table_mod, "INDEX_BROADCAST_MAX_ROWS", 100)
    t = _cow_table(spark, tmp_table_path, lineitem, index_type=INDEX_SIMPLE)
    listings = []

    def commit(q):
        listings.append(timeline_listings(lambda: t.upsert(
            _updates(lineitem, "l_orderkey % 5 = 1", q))))
    counts = [spark_jobs(lambda q=q: commit(q)) for q in (1.0, 2.0, 3.0)]
    assert counts == [14, 12, 12]
    # the batch's one listing and the post-commit services' one
    assert listings == [2, 2, 2], listings


@pytest.mark.parametrize("index_type",
                         [INDEX_GLOBAL_SIMPLE, INDEX_GLOBAL_BLOOM])
def test_jobs_per_commit_cow_global_index(spark, tmp_table_path, lineitem,
                                          spark_jobs, index_type):
    """Global indexes skip the fused profile lane: the exact tag runs
    against the whole-table key index and rewrites through the broadcast
    anti-join."""
    t = _cow_table(spark, tmp_table_path, lineitem, index_type=index_type)
    counts = [spark_jobs(lambda q=q: t.upsert(
        _updates(lineitem, "l_orderkey % 5 = 1", q))) for q in (1.0, 2.0, 3.0)]
    assert counts == [13, 13, 13]


def test_plan_build_round_trips_cow_fast_lane(spark, tmp_table_path, lineitem,
                                              monkeypatch):
    """A steady-state profile-lane commit builds its plans from a few
    SQL-expression projections.  Every driver→JVM py4j command of one such
    upsert is counted (plan building, job submission, object cleanup):
    the Column-helper plans cost ~2,000 on this fixture, and the ceiling
    is half of that."""
    import py4j.clientserver as cs
    t = _cow_table(spark, tmp_table_path, lineitem)
    t.upsert(_updates(lineitem, "l_orderkey % 5 = 1", 1.0))   # seeds history
    batch = _updates(lineitem, "l_orderkey % 5 = 1", 2.0)
    sent = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    t.upsert(batch)
    monkeypatch.undo()
    assert t._last_probe_mode == "profile"
    assert 0 < sent[0] <= 1000, sent[0]
