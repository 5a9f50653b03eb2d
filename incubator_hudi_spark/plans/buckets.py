"""Bucket (file-group) planning for inserts — the UpsertPartitioner.

Reference: hudi-client/hudi-spark-client/.../table/action/commit/
UpsertPartitioner.java:101-225 — updates go to their existing file group;
inserts first fill *small files* (bin-packing under the 100 MB limit using the
average record size recalculated from recent commits,
UpsertPartitioner.java:160-163), then spill into new file groups sized to the
120 MB target.

Our Spark mapping: the driver computes a per-partition bucket plan (a few rows
per partition) from the workload profile + file-system view; the plan becomes
a broadcast-joined range table so assignment is a vectorized join, never a UDF.
Plan size is O(#file groups touched) — at 100 TB that's the only driver state,
and it is bounded by the incoming batch's partitions, not the table.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import WriteConfig
from ..fsview import FileSystemView
from ..keygen import sql_ident, sql_str


@dataclass
class InsertBucket:
    partition: str
    file_group: str
    seq_start: int   # row_number range [start, end) within the partition
    seq_end: int
    is_new_fg: bool


def new_fg_id() -> str:
    return uuid.uuid4().hex[:16]


#: target number of sampled keys per planned bucket for GLOBAL_SORT range
#: split points.  The count-free sample fraction of the fused profile pass
#: (see fused_profile_splits / table._write_inserts) derives from it:
#: f = SAMPLES_PER_BUCKET * rec_size / target_file_size — since a partition
#: is planned k ≈ n·rec_size/target buckets, a uniform f yields ≈ this many
#: samples per bucket regardless of n, so ONE aggregation can collect counts
#: and split samples together without knowing the counts first.
SAMPLES_PER_BUCKET = 100
#: at most about this many sampled keys of one partition are collected into
#: one aggregation row (a partition past ~1000 target-size buckets would
#: otherwise hold its whole sample there); bigger samples are thinned
MAX_SAMPLES_PER_PARTITION = 100_000
#: second-level hash cut: a partition's sample is first collected in this
#: many hash sub-groups, each thinned to its share of the cap
SAMPLE_SUBGROUPS = 16


def avg_record_size(meta, timeline, default: int, active=None) -> int:
    """Recalculate average record size from recent commit stats
    (UpsertPartitioner.java:160-163).  ``active``: optional
    ``timeline.instants()`` snapshot so a write batch pays no extra
    timeline listing here."""
    from .. import timeline as tl
    if active is not None:
        data = tl.completed_from(active, tl.DATA_ACTIONS)
    else:
        data = timeline.completed_data_instants()
    total_b, total_r = 0, 0
    for ins in data[-5:]:
        md = timeline.read_metadata(ins)
        for st in md.get("write_stats", []):
            total_b += st.get("size") or 0
            total_r += st.get("num_records") or 0
    return max(64, total_b // total_r) if total_r else default


def plan_insert_buckets(
    profile: dict[str, int],
    view: Optional[FileSystemView],
    cfg: WriteConfig,
    rec_size: int,
    pack_small_files: bool = True,
    exclude_fgs: Optional[set] = None,
) -> list[InsertBucket]:
    """profile: partition → #insert rows.  Emits contiguous row-number ranges
    per partition: small existing file groups first (up to their remaining
    capacity), then new file groups at target size.  ``exclude_fgs``: never
    pack into these groups (pending-clustering targets stay frozen)."""
    plan: list[InsertBucket] = []
    rows_per_new_file = max(1, cfg.target_file_size_bytes // rec_size)
    for partition, n in sorted(profile.items()):
        if n <= 0:
            continue
        pos = 0
        if pack_small_files and view is not None:
            for sl in view.small_files(partition, cfg.small_file_limit_bytes):
                if pos >= n:
                    break
                if exclude_fgs and sl.file_group in exclude_fgs:
                    continue
                cap = max(0, (cfg.target_file_size_bytes - sl.base_size) // rec_size)
                if cap <= 0:
                    continue
                take = min(cap, n - pos)
                plan.append(InsertBucket(partition, sl.file_group, pos, pos + take, False))
                pos += take
        remaining = n - pos
        if remaining > 0:
            n_new = max(1, -(-remaining // rows_per_new_file))  # ceil
            per = -(-remaining // n_new)
            for i in range(n_new):
                take = min(per, remaining - i * per)
                if take <= 0:
                    break
                plan.append(InsertBucket(partition, new_fg_id(), pos, pos + take, True))
                pos += take
    return plan


def fused_profile_splits(src: DataFrame, partition_col: str, key_col: str,
                         rec_size: int, target_file_size_bytes: int,
                         samples_per_bucket: int = SAMPLES_PER_BUCKET
                         ) -> DataFrame:
    """ONE aggregation pass yielding, per partition: row count AND the
    GLOBAL_SORT range split points — (partition, _n, _splits, _sampled),
    ``_sampled`` being the size of the key sample the splits came from.

    Sampling is a deterministic key-hash cut at a count-free uniform
    fraction f = samples_per_bucket·rec_size/target (a partition with n
    rows is planned k ≈ n·rec_size/target buckets, so f yields
    ≈ samples_per_bucket keys per bucket for ANY n); retried tasks
    re-derive the same sample (no rand() — the SPARK-38388 hazard class)
    and null keys drop out of the collect_list.

    The sample is bounded per partition by a second-level hash cut, taken
    when the input is large enough for a partition's sample to reach
    MAX_SAMPLES_PER_PARTITION (an input past ~1000 target-size files): the
    aggregation groups by (partition, one of SAMPLE_SUBGROUPS hash
    sub-groups, on hash bits the first cut does not use), and a sub-group
    whose sorted sample exceeds its 1/SAMPLE_SUBGROUPS share of the cap
    keeps every j-th key (an evenly spaced thinning that preserves the
    quantiles).  A second aggregation, over partitions × sub-groups rows,
    merges the sub-groups, so no row holds more than ~the cap; below the
    cap the merged sample is exactly the first cut's.  Smaller inputs skip
    that second aggregation and its exchange.

    Split-point SELECTION is distributed too (r7): a projection on the
    aggregated row sorts the sample and reduces it to the k-1 quantile
    points, where k is the EXACT bucket count plan_insert_buckets derives
    from the same count (both equal ceil(n / rows_per_new_file) on the
    no-packing path — the ceil(n/ceil(n/m)) filling identity keeps the
    plan's positive takes at exactly that k).  The driver therefore
    collects O(total buckets) keys, not O(total samples) — at the 100 TB
    bulk-load shape ~875k buckets × 100 samples of raw keys would be a
    multi-GB driver payload.  The selection expression is the classic
    driver-side quantile pick, index for index:
    idx = min(len(ks)-1, floor(len(ks)·i/k)), ks sorted (sort_array's
    UTF8 binary order = Python's code-point order, a UTF-8 property)."""
    frac = min(1.0, (samples_per_bucket * rec_size)
               / max(1, target_file_size_bytes))
    thresh = max(1, int(frac * (1 << 20)))
    rpnf = max(1, target_file_size_bytes // rec_size)
    key = sql_ident(key_col)
    k = f"((_n + {rpnf - 1}) div {rpnf})"     # planned bucket count
    sampled = (f"CASE WHEN pmod(xxhash64({key}), {1 << 20}) < {thresh} "
               f"THEN {key} END")
    # the optimizer's size estimate (what Spark's own broadcast choice
    # reads), over the stored record size and with an 8x margin for the
    # in-memory vs on-disk gap: when even the whole input's sample stays
    # under the cap, no partition can reach it and one aggregation does
    size = int(str(src._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))
    if 8 * size // max(1, rec_size) * frac <= MAX_SAMPLES_PER_PARTITION:
        grouped = src.groupBy(partition_col).agg(
            F.expr("count(1) AS _n"),
            F.expr(f"sort_array(collect_list({sampled})) AS _ks"))
    else:
        share = MAX_SAMPLES_PER_PARTITION // SAMPLE_SUBGROUPS
        grouped = (
            src.groupBy(partition_col, F.expr(
                f"pmod(shiftright(xxhash64({key}), 20), {SAMPLE_SUBGROUPS})"
                " AS _sub"))
            .agg(F.expr("count(1) AS _n"),
                 F.expr(f"sort_array(collect_list({sampled})) AS _ks"))
            .groupBy(partition_col)
            .agg(F.expr("sum(_n) AS _n"), F.expr(
                "sort_array(flatten(collect_list(filter(_ks, (x, i) -> "
                f"i % greatest(1, (size(_ks) + {share - 1}) div {share}) "
                "= 0)))) AS _ks")))
    return (grouped
            .selectExpr(sql_ident(partition_col), "_n",
                        f"CASE WHEN {k} > 1 AND size(_ks) > 0 THEN "
                        f"transform(sequence(1, int({k}) - 1), i -> "
                        "element_at(_ks, int(least(size(_ks) - 1, "
                        f"(size(_ks) * i) div {k})) + 1)) "
                        "ELSE array() END AS _splits",
                        "size(_ks) AS _sampled"))


def range_split_points(plan: list[InsertBucket],
                       splits: dict[str, list[str]]) -> dict[str, list[str]]:
    """Per-partition key split points for GLOBAL_SORT assignment
    (GlobalSortPartitioner.java:34-45 — ``records.sortBy``; Spark's own
    RangePartitioner uses the same sample-then-split technique).

    ``splits``: split points already SELECTED distributed — the fused
    profile aggregation (fused_profile_splits, run by
    table._write_inserts) reduces each partition's sorted key sample to
    its k-1 quantile points executor-side, so the driver never sees raw
    sampled keys.  NO Spark job runs here: this only subsets to the
    partitions planned with >1 bucket (steady-state one-bucket writes
    need no split)."""
    from collections import Counter
    k_of = Counter(b.partition for b in plan)
    return {p: list(splits.get(p, [])) for p, k in k_of.items() if k > 1}


def assign_insert_buckets_range(spark: SparkSession, inserts: DataFrame,
                                plan: list[InsertBucket],
                                partition_col: str, key_col: str,
                                fg_col: str,
                                splits: dict[str, list[str]]) -> DataFrame:
    """GLOBAL_SORT assignment: bucket b of a partition owns the key interval
    [split[b-1], split[b]) — intervals chain (-inf … +inf), are disjoint,
    and cover every key, so each row matches exactly one bucket and the
    written files carry DISJOINT min/max key ranges (what makes manifest
    stats skipping and the BLOOM-style index prune decisively).  Duplicate
    keys land in one bucket, preserving the in-bucket preCombine contract."""
    from collections import defaultdict
    by_part: dict[str, list[InsertBucket]] = defaultdict(list)
    for b in plan:
        by_part[b.partition].append(b)
    rows = []
    for p, bs in by_part.items():
        pts = splits.get(p, [])
        for i, b in enumerate(bs):
            if i > len(pts):
                break               # fewer sample points than buckets: unused
            lo = pts[i - 1] if i > 0 else None
            hi = pts[i] if i < len(pts) else None
            rows.append((p, b.file_group, lo, hi))
    plan_df = spark.createDataFrame(
        rows, schema=(f"{partition_col} string, {fg_col} string, "
                      "_lo string, _hi string"))
    # null record keys sort with '' (first interval) instead of vanishing
    # through three-valued comparison logic in the inner join
    k = F.coalesce(inserts[key_col], F.lit(""))
    out = inserts.join(
        F.broadcast(plan_df),
        on=[inserts[partition_col] == plan_df[partition_col],
            plan_df["_lo"].isNull() | (k >= plan_df["_lo"]),
            plan_df["_hi"].isNull() | (k < plan_df["_hi"])],
        how="inner",
    ).drop(plan_df[partition_col]).drop("_lo", "_hi")
    return out


def bucket_map_sql(plan: list[InsertBucket]) -> str:
    """A one-bucket-per-partition plan as a SQL ``map(partition, file
    group)`` literal."""
    return "map(" + ", ".join(f"{sql_str(b.partition)}, {sql_str(b.file_group)}"
                              for b in plan) + ")"


def assign_insert_buckets(spark: SparkSession, inserts: DataFrame,
                          plan: list[InsertBucket],
                          partition_col: str, key_col: str,
                          fg_col: str) -> DataFrame:
    """Assign each insert row a file group by spreading a deterministic key
    hash uniformly over ``[0, N_partition)`` and range-joining the broadcast
    plan.  Fully parallel — no per-partition sequencing, no window, no skewed
    task (the reference's UpsertPartitioner achieves the same with a custom
    shuffle Partitioner; a row_number window would funnel each table partition
    through one task at 100 TB).  Capacity enforcement is statistical
    (binomial noise ≪ file-size targets, which are estimates anyway).
    """
    totals: dict[str, int] = {}
    buckets_per_part: dict[str, int] = {}
    for b in plan:
        totals[b.partition] = max(totals.get(b.partition, 0), b.seq_end)
        buckets_per_part[b.partition] = buckets_per_part.get(b.partition, 0) + 1
    if buckets_per_part and all(n == 1 for n in buckets_per_part.values()):
        # common case (steady-state upserts, partition-sized bulk loads): one
        # target bucket per partition — assignment is a pure map lookup, no
        # join, no hash column (the range join below costs a broadcast +
        # per-row range probe; a literal map is a codegen'd lookup)
        return (inserts.withColumn(fg_col, F.expr(
                    f"{bucket_map_sql(plan)}[{sql_ident(partition_col)}]"))
                .filter(f"{sql_ident(fg_col)} IS NOT NULL"))  # inner-join drops
    plan_df = spark.createDataFrame(
        [(b.partition, b.file_group, b.seq_start, b.seq_end, totals[b.partition])
         for b in plan],
        schema=(f"{partition_col} string, {fg_col} string, "
                "_seq_start long, _seq_end long, _seq_total long"),
    )
    hashed = inserts.withColumn("_h", F.abs(F.xxhash64(F.col(key_col))))
    assigned = hashed.join(
        F.broadcast(plan_df),
        on=[hashed[partition_col] == plan_df[partition_col],
            F.pmod(hashed["_h"], plan_df["_seq_total"]) >= plan_df["_seq_start"],
            F.pmod(hashed["_h"], plan_df["_seq_total"]) < plan_df["_seq_end"]],
        how="inner",
    ).drop(plan_df[partition_col]).drop("_h", "_seq_start", "_seq_end", "_seq_total")
    return assigned
