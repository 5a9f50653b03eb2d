"""Explain-plan audit: capture the physical plans of the engine's hot paths
and assert the properties the 100 TB design depends on.  Writes PLANS.md.

Checked invariants:
  1. snapshot read: user filters reach the parquet scan (PushedFilters) and
     the scan schema is pruned to referenced columns (ReadSchema);
  2. incremental read: the `_hoodie_commit_time` range filter is pushed into
     the scan (parquet row-group min/max pruning applies);
  3. COW upsert merge: exactly ONE shuffle (the repartition by file group) —
     the per-file-group merge window reuses that clustering, and the write
     adds none;
  4. MOR snapshot merge: exactly ONE shuffle for the latest-wins window;
  5. index tagging: the batch's key set is broadcast (never the table-sized
     key scan);
  5b. tagging against a pinned index: no Exchange between the cached index
     scan and the broadcast of the located keys (the index is deduplicated
     once when pinned, not per batch);
  6. ANN brute force: the query set is broadcast (scan stays pipelined).

Run: python tools/explain_audit.py [sf_dir]   (default sf0.001)
"""

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain(df, mode="formatted"):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def n_exchanges(df) -> int:
    """Count shuffle exchanges the query executes, by walking the physical
    plan tree (AQE is disabled in this session so the tree is concrete).
    InMemoryTableScan is a leaf — a cache's materialization plan does not
    rerun and is not counted.  Broadcast/Reused exchanges excluded."""
    def walk(node):
        name = node.nodeName()
        cnt = int("Exchange" in name and "Broadcast" not in name
                  and "Reused" not in name)
        ch = node.children()
        for i in range(ch.size()):
            cnt += walk(ch.apply(i))
        return cnt
    return walk(df._jdf.queryExecution().executedPlan())


def main():
    from pyspark.sql import SparkSession, functions as F

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.autoBroadcastJoinThreshold", "64m")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from incubator_hudi_spark import HudiTable, MERGE_ON_READ
    from incubator_hudi_spark.config import (META_PARTITION_PATH,
                                             META_RECORD_KEY, QUERY_INCREMENTAL)
    from incubator_hudi_spark.indexing import load_key_index, tag_locations
    from incubator_hudi_spark.operators import similarity as S

    tmp = tempfile.mkdtemp(prefix="audit_")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    sections, failures = [], []

    def check(name, plan, preds):
        ok_all = True
        lines = []
        for desc, ok in preds:
            ok_all &= ok
            lines.append(f"  - {'PASS' if ok else 'FAIL'}: {desc}")
            if not ok:
                failures.append(f"{name}: {desc}")
        key = "\n".join(l for l in plan.splitlines()
                        if re.search(r"PushedFilters|ReadSchema|Exchange|"
                                     r"Window|Scan parquet|Broadcast", l))
        sections.append(f"## {name}\n\n" + "\n".join(lines) +
                        f"\n\n```\n{key.strip()}\n```\n")
        print(f"{name}: {'OK' if ok_all else 'FAILED'}")

    t = HudiTable.create(spark, tmp + "/cow", "cow",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate")
    c0 = t.bulk_insert(li)
    c1 = t.upsert(li.limit(300).withColumn("l_quantity", F.lit(1.0)))

    # 1 — snapshot read pushdown + pruning
    q = (t.read().filter("l_shipdate >= DATE'1995-01-01'")
         .groupBy("l_returnflag").agg(F.sum("l_quantity")))
    p = explain(q)
    check("snapshot read: filter pushdown + column pruning", p, [
        ("filter pushed to parquet scan",
         "GreaterThanOrEqual(l_shipdate" in p),
        ("scan schema pruned to 3 columns",
         bool(re.search(r"ReadSchema: struct<l_quantity:[^,]+,l_returnflag:"
                        r"[^,]+,l_shipdate:[^>]+>", p))),
    ])

    # 2 — incremental commit-time pushdown
    p = explain(t.read(QUERY_INCREMENTAL, begin=c0, end=c1))
    check("incremental read: commit-time filter pushdown", p, [
        ("begin/end range pushed to scan",
         "GreaterThan(_hoodie_commit_time" in p
         and "LessThanOrEqual(_hoodie_commit_time" in p),
    ])

    # 2b — stats-pruned filtered read: the exact re-filter must still reach
    # the (already slice-pruned) parquet scan, and the scan's file list must
    # be smaller than the full snapshot's
    tsk = HudiTable.create(
        spark, tmp + "/skip", "skip",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr=None, precombine_field="l_shipdate",
        write_config=__import__(
            "incubator_hudi_spark.config", fromlist=["WriteConfig"]
        ).WriteConfig(target_file_size_bytes=48 * 1024,
                      stats_columns=("l_partkey", "l_suppkey")))
    tsk.bulk_insert(li)
    tsk.cluster(sort_columns=["l_partkey", "l_suppkey"], layout="zorder")
    skipped = tsk.read_filtered([("l_partkey", "between", (1, 40))])
    p = explain(skipped)
    n_sk, n_all = len(skipped.inputFiles()), len(tsk.read().inputFiles())
    check("stats-pruned read: slice skip + exact filter pushdown", p, [
        (f"fewer files than full scan ({n_sk} < {n_all})", n_sk < n_all),
        ("re-filter pushed to parquet scan",
         "GreaterThanOrEqual(l_partkey" in p and "LessThanOrEqual(l_partkey" in p),
        ("no exchange introduced", n_exchanges(skipped) == 0),
    ])

    # 3 — COW upsert merge: single shuffle
    from incubator_hudi_spark.writer import (FG, NEW_FLAG, drop_deleted,
                                             merge_latest)
    from incubator_hudi_spark.indexing import FG_COL
    view = t.view()
    # mirror _upsert_impl: the prepared batch is persisted, so its in-batch
    # dedup shuffle happens once at materialization, not in downstream plans
    prepared = t._prepare(li.limit(300), "99999999999999999", combine=True)
    prepared = prepared.persist()
    prepared.count()
    idx = load_key_index(spark, t.meta, view, t.cfg.index_type, tc=t.tc)
    tagged = tag_locations(prepared, idx, t.cfg.index_type,
                           broadcast_incoming=True)
    tagging_plan = explain(tagged)   # the join stage itself, pre-cache
    tagged_df = tagged
    tagged = tagged.persist()
    tagged.count()
    updates = tagged.filter(F.col(FG_COL).isNotNull()) \
                    .withColumn(FG, F.col(FG_COL)).drop(FG_COL) \
                    .withColumn(NEW_FLAG, F.lit(True))
    old = t._read_fg_files(view, {r[0] for r in
                                  updates.select(FG).distinct().collect()}) \
           .withColumn(NEW_FLAG, F.lit(False))
    merged = old.unionByName(updates, allowMissingColumns=True) \
                .repartition(8, F.col(FG))
    merged = drop_deleted(merge_latest(merged, t.tc, bucket_col=FG))
    p = explain(merged)
    check("COW upsert merge: one shuffle total", p, [
        (f"exactly 1 Exchange (found {n_exchanges(merged)})", n_exchanges(merged) == 1),
        ("per-file-group merge window present", "Window" in p),
    ])

    # 3a' — partial-update payload: the per-column first(ignorenulls) fills
    # must ride the SAME single file-group exchange as the rank window (no
    # second shuffle for the coalesce pass)
    from incubator_hudi_spark.config import PAYLOAD_OVERWRITE_NON_DEFAULTS
    import dataclasses
    tc_partial = dataclasses.replace(t.tc,
                                     payload=PAYLOAD_OVERWRITE_NON_DEFAULTS)
    merged_pu = old.unionByName(updates, allowMissingColumns=True) \
                   .repartition(8, F.col(FG))
    merged_pu = drop_deleted(merge_latest(merged_pu, tc_partial, bucket_col=FG))
    p = explain(merged_pu)
    check("partial-update merge: coalesce fills share the one exchange", p, [
        (f"exactly 1 Exchange (found {n_exchanges(merged_pu)})",
         n_exchanges(merged_pu) == 1),
        ("window fill present", "Window" in p),
    ])

    # 3b — COW broadcast anti-join fast path: the table-sided rewrite stream
    # (scan → anti-join → write) must carry ZERO shuffle exchanges; only the
    # tiny batch side may exchange (its clustering by file group).
    from incubator_hudi_spark.writer import MERGE_KEY
    batch_keys = updates.select(*MERGE_KEY).dropDuplicates(MERGE_KEY)
    survivors = old.drop(NEW_FLAG).join(F.broadcast(batch_keys),
                                        on=MERGE_KEY, how="left_anti")
    fresh = updates.drop(NEW_FLAG).repartition(8, F.col(FG))
    fast_merged = survivors.unionByName(fresh, allowMissingColumns=True)
    p = explain(fast_merged)
    check("COW broadcast anti-join rewrite: table side never shuffles", p, [
        ("anti join is broadcast",
         "BroadcastHashJoin" in p and "LeftAnti" in p),
        (f"only the batch-side exchange remains (found {n_exchanges(fast_merged)})",
         n_exchanges(fast_merged) <= 1),
    ])

    # 5 — index tagging broadcasts the batch, streams the key scan.  The
    # pruned (≤ batch-sized) location set may be shuffled once for its
    # per-file-group dedup — what must NEVER happen is an exchange between
    # the table-sized key-column scan and the semi-join that prunes it.
    def scan_pruned_before_any_exchange(df) -> bool:
        def walk(node, saw_exchange_above):
            name = node.nodeName()
            if "FileScan" in name and "_hoodie_record_key" in node.simpleString(200) \
                    and "InMemoryFileIndex(1 paths)" not in node.simpleString(500):
                # the key scan: every exchange above it must sit above the
                # pruning semi-join, i.e. we must have passed a semi join
                # before reaching here from any exchange
                return not saw_exchange_above
            is_exchange = ("Exchange" in name and "Broadcast" not in name
                           and "Reused" not in name)
            if "Join" in name and "LeftSemi" in node.simpleString(200):
                saw_exchange_above = False      # pruning happened below here
            ch = node.children()
            return all(walk(ch.apply(i), saw_exchange_above or is_exchange)
                       for i in range(ch.size()))
        return walk(df._jdf.queryExecution().executedPlan(), False)

    check("index tagging: broadcast batch key set, streamed key scan",
          tagging_plan, [
        ("broadcast join used", "BroadcastHashJoin" in tagging_plan
         or "BroadcastExchange" in tagging_plan),
        ("key scan semi-join-pruned before any exchange",
         scan_pruned_before_any_exchange(tagged_df)),
        (f"at most one batch-sized exchange (found {n_exchanges(tagged_df)})",
         n_exchanges(tagged_df) <= 1),
    ])

    # 5b — tagging against the pinned key index (INMEMORY/SIMPLE keep it
    # persisted across batches, deduplicated when pinned): the located keys
    # stream from the cached index scan through the pruning semi-join
    # straight into their broadcast — no per-batch dedup shuffle
    def pinned_scan_broadcast_without_exchange(df) -> bool:
        paths = []

        def walk(node, under_broadcast, saw_exchange):
            name = node.nodeName()
            if "InMemoryTableScan" in name \
                    and FG_COL in node.simpleString(1000):
                paths.append(under_broadcast and not saw_exchange)
                return
            if "BroadcastExchange" in name:
                under_broadcast, saw_exchange = True, False
            elif "Exchange" in name and "Reused" not in name:
                saw_exchange = True
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i), under_broadcast, saw_exchange)
        walk(df._jdf.queryExecution().executedPlan(), False, False)
        return bool(paths) and all(paths)

    pinned = t._load_index(view, sorted(view.partitions()), None,
                          t._data_instants_token())
    tagged_pinned = tag_locations(prepared, pinned, t.cfg.index_type,
                                  broadcast_incoming=True, index_unique=True)
    p = explain(tagged_pinned)
    check("index tagging against a pinned index: no per-batch index shuffle",
          p, [
        ("the key index is pinned (INMEMORY/SIMPLE cache)",
         t._key_index is not None and pinned is t._key_index),
        ("no Exchange between the cached index scan and the broadcast of "
         "the located keys",
         pinned_scan_broadcast_without_exchange(tagged_pinned)),
    ])

    # 2c — bloom-pruned point lookup: second-stage pruning on a shuffled
    # SORT_NONE layout (ranges all overlap → range pruning alone is blind)
    from incubator_hudi_spark.config import SORT_NONE
    tbl = HudiTable.create(
        spark, tmp + "/bloomt", "bloomt",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr=None, precombine_field="l_shipdate",
        write_config=__import__(
            "incubator_hudi_spark.config", fromlist=["WriteConfig"]
        ).WriteConfig(target_file_size_bytes=16 * 1024))
    tbl.bulk_insert(li.repartition(24), sort_mode=SORT_NONE)
    mid_key = (tbl.read().select("_hoodie_record_key")
               .orderBy("_hoodie_record_key")
               .offset(li.count() // 2).limit(1).first()[0])
    n_range = len(tbl.read_keys([mid_key]).inputFiles())
    tbl.build_bloom_index()
    blq = tbl.read_keys([mid_key])
    n_bloom = len(blq.inputFiles())
    p = explain(blq)
    check("bloom point lookup: sidecar prunes overlap-range files", p, [
        (f"bloom opens fewer files than ranges alone ({n_bloom} < {n_range})",
         n_bloom < n_range),
        (f"a handful of files of {len(tbl.view().latest_slices())} groups "
         f"({n_bloom})", n_bloom <= 8),
        ("no exchange introduced", n_exchanges(blq) == 0),
    ])

    # 4 — MOR snapshot merge: one shuffle window
    m = HudiTable.create(spark, tmp + "/mor", "mor",
                         recordkey_fields=["l_orderkey", "l_linenumber"],
                         partition_expr="date_format(l_shipdate,'yyyy-MM')",
                         precombine_field="l_shipdate",
                         table_type=MERGE_ON_READ)
    m.cfg = m.cfg.with_(inline_compaction=False)
    m.upsert(li)
    m.upsert(li.limit(300).withColumn("l_quantity", F.lit(2.0)))
    mor_read = m.read()
    p = explain(mor_read)
    check("MOR snapshot merge: broadcast-split, base side never shuffles", p, [
        (f"only the touched-keys exchange remains (found {n_exchanges(mor_read)})",
         n_exchanges(mor_read) == 1),
        ("merge window present", "Window" in p),
        ("untouched base rows pass through a broadcast anti join",
         "BroadcastHashJoin" in p and "LeftAnti" in p),
    ])

    # 4b — temporal joins (operators/joins.py)
    from incubator_hudi_spark.operators.joins import asof_join, range_join
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    purch = ev.filter("event_type = 'purchase'")
    clicks = ev.filter("event_type = 'click'")
    aj = asof_join(purch, clicks, ["user_id"], "ts", "ts",
                   right_cols=["value"])
    p = explain(aj)
    check("as-of join: one key-hash exchange, no inequality join", p, [
        (f"exactly 1 Exchange (found {n_exchanges(aj)})", n_exchanges(aj) == 1),
        ("prefix window present", "Window" in p),
        ("no nested-loop/cartesian fallback",
         "NestedLoop" not in p and "Cartesian" not in p),
    ])
    rj = range_join(purch, clicks, ["user_id"], "ts", "ts",
                    before_seconds=1800.0, right_cols=["value"])
    p = explain(rj)
    check("range join: bucketized equi-join (no theta-join blowup)", p, [
        ("hash/sort-merge equi-join",
         "HashJoin" in p or "SortMergeJoin" in p),
        ("no nested-loop/cartesian fallback",
         "NestedLoop" not in p and "Cartesian" not in p),
    ])

    # 7 — sessionization: exactly one user-keyed shuffle feeds both windows
    # and the session aggregation (sort-order reuse within the partition)
    from incubator_hudi_spark.streaming.sessionize import sessionize
    sess = sessionize(ev, gap_minutes=30)
    p = explain(sess)
    check("sessionization: one user-keyed shuffle", p, [
        (f"exactly 1 Exchange (found {n_exchanges(sess)})",
         n_exchanges(sess) == 1),
        ("gaps-and-islands windows present", "Window" in p),
    ])

    # 6 — ANN brute force broadcasts the query side
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qs = emb.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    p = explain(S.brute_force_topk(emb, qs, k=5))
    check("ANN brute force: broadcast query set", p, [
        ("query side broadcast", "Broadcast" in p),
    ])

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("# Physical-plan audit (tools/explain_audit.py)\n\n"
                "Hot-path plans with the scale-critical properties asserted; "
                "re-run after planner-affecting changes.\n\n"
                + "\n".join(sections))
    print(f"\nwrote {out}")
    if failures:
        print("FAILURES:", *failures, sep="\n  ")
        sys.exit(1)
    print("all plan invariants hold")


if __name__ == "__main__":
    main()
