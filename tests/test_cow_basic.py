"""COW write/read cycle tests — the engine analogue of the reference's
TestHoodieClientOnCopyOnWriteStorage.java / TestCOWDataSource.scala invariants."""

import pytest
from pyspark.sql import functions as F

from incubator_hudi_spark import (HudiTable, QUERY_INCREMENTAL,
                                  QUERY_READ_OPTIMIZED, WriteConfig)
from incubator_hudi_spark.config import META_COLUMNS, META_RECORD_KEY


def make_lineitem_table(spark, path, **kw):
    return HudiTable.create(
        spark, path, name="lineitem",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate",
        **kw)


def test_bulk_insert_snapshot_roundtrip(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    t.bulk_insert(lineitem)
    snap = t.read()
    # bulk_insert does NOT dedup by default (reference semantics) — the
    # driver's lineitem intentionally carries duplicate keys
    assert snap.count() == lineitem.count()
    for c in META_COLUMNS:
        assert c in snap.columns
    # values round-trip
    a = snap.select(*lineitem.columns)
    assert a.exceptAll(lineitem).count() == 0
    assert lineitem.exceptAll(a).count() == 0


def _hoodie_key_cols(df):
    """Record identity = (recordKey, partitionPath) — month of shipdate here."""
    return df.withColumn("_p", F.date_format("l_shipdate", "yyyy-MM"))


def _dedup(df):
    """Mirror of engine preCombine: one survivor per (key, partition)."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("l_orderkey", "l_linenumber", "_p") \
              .orderBy(F.desc("l_shipdate"))
    return (_hoodie_key_cols(df).withColumn("rn", F.row_number().over(w))
            .filter("rn=1").drop("rn", "_p"))


def test_upsert_dedups_to_unique_keys(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    t.upsert(lineitem)
    snap = t.read()
    n_keys = _hoodie_key_cols(lineitem) \
        .select("l_orderkey", "l_linenumber", "_p").distinct().count()
    assert snap.count() == n_keys
    exp = _dedup(lineitem)
    assert snap.select(*lineitem.columns).exceptAll(exp).count() == 0


def test_upsert_updates_and_inserts(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    base = lineitem.filter(F.col("l_orderkey") % 2 == 0)
    rest = lineitem.filter(F.col("l_orderkey") % 2 == 1)
    t.upsert(base)  # dedups in-batch → unique keys

    updates = base.filter(F.col("l_returnflag") == "R") \
                  .withColumn("l_quantity", F.col("l_quantity") + 1000)
    t.upsert(updates.unionByName(rest))

    snap = t.read()
    # expected: overwrite-latest merge mirrored in plain Spark
    b, u, r = _dedup(base), _dedup(updates), _dedup(rest)
    kc = ["l_orderkey", "l_linenumber", "_p"]
    exp = (_hoodie_key_cols(b).join(_hoodie_key_cols(u).select(*kc),
                                    on=kc, how="left_anti").drop("_p")
            .unionByName(u).unionByName(r)).select(*lineitem.columns)
    got = snap.select(*lineitem.columns)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_precombine_in_batch_dedup(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    one = lineitem.limit(100)
    # duplicate every row with an older shipdate and a poisoned quantity;
    # preCombine must pick the newer shipdate row
    # older-precombine twin in the SAME partition (month) must lose
    dup = one.withColumn("l_shipdate", F.col("l_shipdate") - F.expr("interval 1 second")) \
             .withColumn("l_quantity", F.lit(-1.0))
    t.upsert(one.unionByName(dup))
    snap = t.read()
    n_keys = (one.select("l_orderkey", "l_linenumber",
                         F.date_format("l_shipdate", "yyyy-MM").alias("p"))
              .unionByName(dup.select("l_orderkey", "l_linenumber",
                                      F.date_format("l_shipdate", "yyyy-MM").alias("p")))
              .distinct().count())
    assert snap.count() == n_keys
    # a poisoned twin survives only if the 1s shift crossed a month boundary
    # (different partition → different HoodieKey)
    crossers = (dup.join(one.select("l_orderkey", "l_linenumber",
                                    F.date_format("l_shipdate", "yyyy-MM").alias("p0")),
                         on=["l_orderkey", "l_linenumber"])
                .filter(F.date_format("l_shipdate", "yyyy-MM") != F.col("p0")).count())
    assert snap.filter(F.col("l_quantity") < 0).count() == crossers


def test_precombine_tie_break_same_in_both_dedups(spark, lineitem):
    """Twins with EQUAL precombine values, differing only in data columns:
    the aggregate dedup (every later-commit lane) and the in-bucket window
    dedup (first-commit lane) keep the same survivor — the row ranking
    highest on the data columns taken alphabetically, descending."""
    from incubator_hudi_spark.config import TableConfig
    from incubator_hudi_spark.writer import (
        FG, precombine_dedup, precombine_dedup_in_bucket, with_key_columns)
    tc = TableConfig(name="li", recordkey_fields=("l_orderkey", "l_linenumber"),
                     partition_expr="date_format(l_shipdate,'yyyy-MM')",
                     precombine_field="l_shipdate")
    one = (lineitem.limit(200)
           .withColumn("m", F.create_map(F.lit("q"), F.col("l_quantity"))))
    # loses on l_quantity to the original (same l_discount)
    low_qty = one.withColumn("l_quantity", F.lit(-1.0))
    # wins on l_quantity but loses on l_discount, which sorts first
    low_discount = (one.withColumn("l_discount", F.lit(-1.0))
                    .withColumn("l_quantity", F.lit(1e9)))
    batch = with_key_columns(
        one.unionByName(low_qty).unionByName(low_discount), tc)
    by_agg = precombine_dedup(batch, tc)
    by_window = precombine_dedup_in_bucket(
        batch.withColumn(FG, F.abs(F.hash("_hoodie_record_key")) % 4)
             .repartition(4, FG), tc, FG).drop(FG)
    cols = [c for c in batch.columns if c != "m"]
    a, b = by_agg.select(cols), by_window.select(cols)
    assert a.count() == b.count() == batch.select(
        "_hoodie_record_key", "_hoodie_partition_path").distinct().count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.filter("l_quantity < 0 or l_quantity > 1e8").count() == 0


def test_delete_keys(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    t.upsert(lineitem)  # unique keys
    victims = lineitem.filter(F.col("l_returnflag") == "R")
    t.delete(victims)
    snap = t.read()
    kc = ["l_orderkey", "l_linenumber", "_p"]
    victim_keys = _hoodie_key_cols(victims).select(*kc).distinct()
    all_keys = _hoodie_key_cols(lineitem).select(*kc).distinct()
    assert snap.count() == all_keys.exceptAll(victim_keys).count()
    assert _hoodie_key_cols(snap).join(victim_keys, on=kc, how="inner").count() == 0


def test_insert_small_file_packing(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    t.bulk_insert(lineitem.limit(500))
    n_files_before = len(t.view().latest_slices())
    t.insert(lineitem.limit(500).withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000))
    # inserts packed into existing small files → file-group count unchanged
    assert len(t.view().latest_slices()) == n_files_before
    assert t.read().count() == 1000


def test_incremental_and_point_in_time(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    c1 = t.bulk_insert(lineitem)
    updates = lineitem.filter(F.col("l_linenumber") == 1) \
                      .withColumn("l_extendedprice", F.col("l_extendedprice") * 2)
    c2 = t.upsert(updates)

    inc = t.read(QUERY_INCREMENTAL, begin=c1, end=c2)
    n_upd = _hoodie_key_cols(updates) \
        .select("l_orderkey", "l_linenumber", "_p").distinct().count()
    assert inc.count() == n_upd
    assert inc.filter(F.col("l_linenumber") != 1).count() == 0

    pit = t.read(as_of=c1)
    assert pit.count() == lineitem.count()
    assert pit.select(*lineitem.columns).exceptAll(lineitem).count() == 0


def test_filter_exists(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    t.bulk_insert(lineitem.filter(F.col("l_orderkey") % 2 == 0))
    fresh = t.filter_exists(lineitem)
    assert fresh.count() == lineitem.filter(F.col("l_orderkey") % 2 == 1).count()


def test_insert_overwrite_partition(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    t.bulk_insert(lineitem)
    part = lineitem.select(F.date_format("l_shipdate", "yyyy-MM").alias("p")) \
                   .groupBy("p").count().orderBy("p").first()["p"]
    repl = lineitem.filter(F.date_format("l_shipdate", "yyyy-MM") == part) \
                   .limit(10).withColumn("l_quantity", F.lit(42.0))
    t.insert_overwrite(repl)
    snap = t.read()
    in_part = snap.filter(F.date_format("l_shipdate", "yyyy-MM") == part)
    assert in_part.count() == 10
    assert in_part.filter(F.col("l_quantity") != 42.0).count() == 0
    out_part = lineitem.filter(F.date_format("l_shipdate", "yyyy-MM") != part)
    assert snap.count() == out_part.count() + 10


def test_delete_partition_and_overwrite_table(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    t.bulk_insert(lineitem)
    parts = t.view().partitions()
    t.delete_partitions([parts[0]])
    snap = t.read()
    assert snap.filter(F.col("_hoodie_partition_path") == parts[0]).count() == 0
    exp = lineitem.filter(F.date_format("l_shipdate", "yyyy-MM") != parts[0]).count()
    assert snap.count() == exp

    t.insert_overwrite_table(lineitem.limit(7))
    assert t.read().count() == 7


def test_rollback_restores_previous_snapshot(spark, tmp_table_path, lineitem):
    t = make_lineitem_table(spark, tmp_table_path)
    c1 = t.bulk_insert(lineitem)
    before = t.read().count()
    c2 = t.upsert(lineitem.limit(50).withColumn("l_quantity", F.lit(-5.0)))
    assert t.read().filter(F.col("l_quantity") < 0).count() == 50
    t.rollback(c2)
    snap = t.read()
    assert snap.count() == before
    assert snap.filter(F.col("l_quantity") < 0).count() == 0


def test_crash_recovery_on_next_write(spark, tmp_table_path, lineitem):
    """A writer that died mid-commit leaves requested+inflight instants and
    orphan data files; the next write (rollback-on-start) must clear them
    and readers must never have seen the partial data."""
    import os
    from incubator_hudi_spark import timeline as tl

    t = HudiTable.create(spark, tmp_table_path, "t",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate")
    t.upsert(lineitem)
    n = t.read().count()

    # simulate the crash: dangling instant + orphan files in its data dir
    crash = tl.new_instant_time()
    ins = t.timeline.create_requested(crash, tl.COMMIT)
    t.timeline.transition_to_inflight(ins)
    d = os.path.join(t.meta.instant_data_dir(crash), "_fg=deadbeef")
    os.makedirs(d)
    lineitem.limit(10).write.mode("overwrite").parquet(os.path.join(d, "orphan"))

    t2 = HudiTable.load(spark, tmp_table_path)
    assert t2.read().count() == n            # partial write invisible
    t2.upsert(lineitem.limit(100).withColumn("l_quantity", F.lit(-1.0)))
    assert not any(p.time == crash for p in t2.timeline.pending())
    assert not os.path.isdir(t2.meta.instant_data_dir(crash))
    rb = t2.timeline.completed([tl.ROLLBACK])
    assert rb, "rollback instant should record the recovery"
    assert t2.read().filter("l_quantity = -1.0").count() == 100


def test_bulk_insert_sort_modes(spark, tmp_table_path, lineitem):
    """BulkInsertSortMode parity (GlobalSortPartitioner / RDDPartitionSort /
    NonSort): identical logical content; GLOBAL_SORT must yield (mostly)
    disjoint per-file key ranges inside each partition — that's the layout
    property the stats-pruned index trades on."""
    from incubator_hudi_spark.config import (SORT_GLOBAL, SORT_NONE,
                                             SORT_PARTITION)
    from incubator_hudi_spark import WriteConfig
    snaps = {}
    for mode in (SORT_GLOBAL, SORT_PARTITION, SORT_NONE):
        t = make_lineitem_table(
            spark, f"{tmp_table_path}_{mode}",
            write_config=WriteConfig(target_file_size_bytes=16 * 1024))
        t.bulk_insert(lineitem, sort_mode=mode)
        snaps[mode] = t.read().select(*lineitem.columns)
        if mode == SORT_GLOBAL:
            by_part = {}
            for sl in t.view().latest_slices():
                for f in sl.base_files:
                    if f.min_key is not None:
                        by_part.setdefault(sl.partition, []).append(
                            (f.min_key, f.max_key))
            multi = {p: rs for p, rs in by_part.items() if len(rs) > 1}
            assert multi, "tiny target size should split partitions"
            for rs in multi.values():
                rs.sort()
                for (lo1, hi1), (lo2, hi2) in zip(rs, rs[1:]):
                    assert hi1 <= lo2, "GLOBAL_SORT ranges must not interleave"
    a = snaps[SORT_GLOBAL]
    for mode in (SORT_PARTITION, SORT_NONE):
        assert a.exceptAll(snaps[mode]).count() == 0
        assert snaps[mode].exceptAll(a).count() == 0


def test_incremental_path_glob(spark, tmp_table_path, lineitem):
    """INCR_PATH_GLOB parity (DataSourceOptions.scala:87-99): the
    incremental pull restricted by a partition/file glob returns exactly
    the changed rows whose partition matches; snapshot reads reject the
    option (incremental-only, like the reference)."""
    t = HudiTable.create(spark, tmp_table_path, "t",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate")
    c1 = t.upsert(lineitem)
    c2 = t.upsert(lineitem.filter("l_linenumber = 2")
                  .withColumn("l_quantity", F.lit(888.0)))
    year = (lineitem.selectExpr("date_format(l_shipdate,'yyyy') y")
            .groupBy("y").count().orderBy(F.desc("count")).first()[0])
    from incubator_hudi_spark.config import QUERY_INCREMENTAL
    inc = t.read(QUERY_INCREMENTAL, begin=c1, end=c2,
                 path_glob=f"{year}-*/*")
    exp = (lineitem.filter("l_linenumber = 2")
           .filter(F.date_format("l_shipdate", "yyyy") == year)
           .selectExpr("l_orderkey", "l_linenumber",
                       "date_format(l_shipdate,'yyyy-MM') m")
           .distinct().count())
    assert inc.count() == exp
    assert (inc.filter(F.date_format("l_shipdate", "yyyy") != year)
            .count() == 0)
    # unfiltered pull is a strict superset
    assert t.read(QUERY_INCREMENTAL, begin=c1, end=c2).count() >= exp
    import pytest as _pytest
    with _pytest.raises(ValueError):
        t.read(path_glob="*")             # snapshot: incremental-only option


def test_failed_write_rearms_recovery(spark, tmp_table_path, lineitem):
    """Rollback-on-start runs once per instance, but a write that fails
    AFTER starting its instant re-arms it: the next write on the SAME
    instance must clean the debris (review finding: once-per-instance
    recovery must not let in-process failures accumulate)."""
    t = HudiTable.create(spark, tmp_table_path, "t",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate")
    t.upsert(lineitem)
    n = t.read().count()
    # incompatible type change fails AFTER _start (schema gate) and leaves
    # a dangling inflight instant
    bad = lineitem.withColumn("l_quantity",
                              F.col("l_quantity").cast("string"))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        t.upsert(bad)
    from incubator_hudi_spark import timeline as tl
    assert any(p.action in tl.DATA_ACTIONS for p in t.timeline.pending()), \
        "test premise: the failed write left a dangling instant"
    # next write on the SAME instance recovers it
    t.upsert(lineitem.limit(50).withColumn("l_quantity", F.lit(4.0)))
    assert not [p for p in t.timeline.pending()
                if p.action in tl.DATA_ACTIONS]
    assert t.read().count() == n


def test_fused_profile_sampling_no_second_pass(spark, tmp_table_path,
                                               lineitem):
    """GLOBAL_SORT all-new-bucket loads select range split points inside
    the profile aggregation, so range_split_points takes no input frame at
    all (no second sampling scan can run): it only passes the provided
    splits through.  The end-to-end layout property is pinned by
    test_bulk_insert_sort_modes."""
    from incubator_hudi_spark.plans.buckets import (InsertBucket,
                                                    range_split_points)

    plan = [InsertBucket("p1", "fg_a", 0, 100, True),
            InsertBucket("p1", "fg_b", 100, 200, True),
            InsertBucket("p2", "fg_c", 0, 50, True)]
    # caller-selected splits pass through verbatim, subset to the
    # >1-bucket partitions
    pre = range_split_points(plan, {"p1": ["k050"], "p2": ["zzz"]})
    assert pre == {"p1": ["k050"]}


def test_distributed_split_selection_matches_driver(spark):
    """r7: the executor-side quantile selection in fused_profile_splits must
    reproduce the r6 driver-side selection byte for byte — same sampled
    keys (deterministic hash cut), same sorted order, same index formula,
    and a bucket count k equal to what plan_insert_buckets derives from the
    same row count."""
    from pyspark.sql import functions as F

    from incubator_hudi_spark.plans.buckets import (SAMPLES_PER_BUCKET,
                                                    fused_profile_splits,
                                                    plan_insert_buckets)
    from incubator_hudi_spark.config import WriteConfig

    rec_size, target = 64, 16 * 1024  # 256 rows per bucket
    rows = [(f"p{j}", f"key{i:06d}-{j}") for j in range(3)
            for i in range(1200 * (j + 1))]       # 1200/2400/3600 rows
    rows += [("p9", "solo")]                      # single-bucket partition
    rows += [("p0", None)] * 5                    # null keys must drop out
    df = spark.createDataFrame(rows, "part string, key string")

    got = {r[0]: (r[1], list(r[2]))
           for r in fused_profile_splits(df, "part", "key",
                                         rec_size, target).collect()}

    # python reference: the r6 driver-side selection over the same
    # deterministic hash-cut sample
    frac = min(1.0, SAMPLES_PER_BUCKET * rec_size / target)
    thresh = max(1, int(frac * (1 << 20)))
    hashed = df.filter("key is not null").withColumn(
        "_h", F.pmod(F.xxhash64("key"), F.lit(1 << 20))).collect()
    rpnf = max(1, target // rec_size)
    from collections import defaultdict
    by_p, counts = defaultdict(list), defaultdict(int)
    for r in hashed:
        counts[r["part"]] += 1
        if r["_h"] < thresh:
            by_p[r["part"]].append(r["key"])
    counts["p0"] += 5  # nulls count in the profile, never in the sample
    for p, (n, splits) in got.items():
        assert n == counts[p]
        k = -(-n // rpnf)  # ceil
        plan = plan_insert_buckets({p: n}, None,
                                   WriteConfig(target_file_size_bytes=target),
                                   rec_size, pack_small_files=False)
        assert len(plan) == k, "k must equal the planned bucket count"
        if k <= 1 or not by_p[p]:
            assert splits == []
            continue
        ks = sorted(by_p[p])
        ref = [ks[min(len(ks) - 1, int(len(ks) * i / k))]
               for i in range(1, k)]
        assert splits == ref, (p, splits, ref)
        assert len(splits) == k - 1


def test_fused_profile_sample_capped_per_partition(spark):
    """A partition whose hash-cut sample is larger than
    MAX_SAMPLES_PER_PARTITION is thinned by the second-level hash cut: the
    sample its splits come from holds at most the cap (and at least half
    of it), and the k-1 split points stay sorted.  A small partition in
    the same aggregation keeps its whole sample."""
    from incubator_hudi_spark.plans.buckets import (
        MAX_SAMPLES_PER_PARTITION, fused_profile_splits)

    cap = MAX_SAMPLES_PER_PARTITION
    n_big, n_small = cap + cap // 2, 500
    rec_size, target = 64, 6400      # f = 1 (every key sampled), 100 rows/bucket
    df = (spark.range(n_big)
          .selectExpr("'big' AS part", "format_string('k%07d', id) AS key")
          .unionByName(spark.range(n_small).selectExpr(
              "'small' AS part", "format_string('s%05d', id) AS key")))
    got = {r["part"]: r for r in fused_profile_splits(
        df, "part", "key", rec_size, target).collect()}

    big = got["big"]
    assert big["_n"] == n_big
    assert cap // 2 <= big["_sampled"] <= cap, big["_sampled"]
    splits = list(big["_splits"])
    assert len(splits) == -(-n_big // 100) - 1
    assert splits == sorted(set(splits))

    small = got["small"]
    assert small["_n"] == small["_sampled"] == n_small
    assert list(small["_splits"]) == [f"s{i:05d}" for i in (100, 200, 300, 400)]


def test_local_writes_skip_crc_sidecars(spark, tmp_table_path, lineitem):
    """r7: engine writes to local paths must not mint Hadoop .crc sidecars
    or _SUCCESS markers (they double small-file churn; parquet pages carry
    their own CRCs), and the table must read back identically.  The switch
    is per-write-scoped: the session's own writes stay checksummed."""
    import os

    from incubator_hudi_spark import writer as W

    t = make_lineitem_table(spark, tmp_table_path)
    t.bulk_insert(lineitem)
    t.upsert(lineitem.limit(100).withColumn("l_quantity", F.lit(7.0)))
    names = [f for r, _, fs in os.walk(tmp_table_path) for f in fs]
    assert not [f for f in names if f.endswith(".crc")], names[:5]
    assert not [f for f in names if "SUCCESS" in f]
    assert t.read().filter("l_quantity = 7.0").count() > 0
    # only paths that resolve to the file scheme get the options; a
    # scheme-less path resolves against the Hadoop conf's fs.defaultFS
    # (reading the conf contacts no file system)
    conf = spark._jsc.hadoopConfiguration()
    assert W.local_write_options("s3a://bucket/x", conf) == {}
    assert W.local_write_options("hdfs://nn/x", conf) == {}
    assert W.local_write_options("/tmp/x", conf) != {}
    assert W.local_write_options("file:/tmp/x", conf) != {}
    remote = spark._jvm.org.apache.hadoop.conf.Configuration(False)
    remote.set("fs.defaultFS", "hdfs://nn:8020")
    assert W.local_write_options("/tmp/x", remote) == {}
    assert W.local_write_options("file:/tmp/x", remote) != {}
