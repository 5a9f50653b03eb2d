"""Compaction: merge MOR delta (log) files into new base files.

Reference parity:
  - schedule: BaseScheduleCompactionActionExecutor + strategies under
    hudi-client/hudi-client-common/.../compact/strategy/ (LogFileSizeBased is
    the default) and triggers CompactionTriggerStrategy.java:21-29
    (NUM_COMMITS default 5, HoodieCompactionConfig.java:79-83); plan persisted
    as ``<t>.compaction.requested``.
  - run: HoodieSparkMergeOnReadTableCompactor.java:90-177 — per file group,
    merge base+logs and write a new base file, completing as a ``commit``.

Our run is the same union+latest-wins window the snapshot read uses, then a
partitionBy(_fg) write.  Record meta columns (notably ``_hoodie_commit_time``)
are **preserved**, so incremental queries through a compaction see original
change times (matching the reference's log-record carry-over).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import functions as F

from .. import timeline as tl
from ..config import COMPACT, META_FILE_NAME, MERGE_ON_READ
from ..writer import API_DELETE, FG, drop_deleted, write_instant_files


#: plan strategies — hudi-client/hudi-client-common/.../compact/strategy/
STRATEGY_LOG_FILE_SIZE = "log_file_size"   # LogFileSizeBasedCompactionStrategy (default)
STRATEGY_BOUNDED_IO = "bounded_io"         # BoundedIOCompactionStrategy
STRATEGY_DAY_BASED = "day_based"           # DayBasedCompactionStrategy
STRATEGY_UNBOUNDED = "unbounded"           # UnBoundedCompactionStrategy
# BoundedPartitionAwareCompactionStrategy: keep only partitions inside the
# rolling [today - N days, ∞) window (recent + future-dated partitions);
# UnBoundedPartitionAwareCompactionStrategy: exactly the complement, so a
# long-running unbounded job never steps on the bounded job's partitions
STRATEGY_BOUNDED_PARTITION = "bounded_partition_aware"
STRATEGY_UNBOUNDED_PARTITION = "unbounded_partition_aware"


def _partition_cutoff(day_partitions: int, today: Optional[str]) -> str:
    """``today - day_partitions`` days as a sortable yyyy-MM-dd string
    (BoundedPartitionAwareCompactionStrategy.getDateAtOffsetFromToday).
    ``today`` (yyyy-MM-dd) is injectable for deterministic planning/tests."""
    import datetime
    base = (datetime.date.fromisoformat(today) if today
            else datetime.date.today())
    return (base - datetime.timedelta(days=day_partitions)).isoformat()


_DATE_PARTITION = re.compile(r"^\d{4}([-/]\d{1,2}){0,2}$")


def _in_bounded_window(partition: str, cutoff: str) -> bool:
    """Reference comparator semantics: normalize '/'→'-' and compare
    lexicographically (date-like partition paths sort chronologically);
    coarser partitions (yyyy-MM) compare against the cutoff's prefix of the
    same length, so a month partition containing the cutoff is in-window.

    Non-date partition paths fail loudly: letters sort above digits, so a
    silent lexicographic compare would put every such partition "in window"
    and the complementary unbounded strategy would select nothing forever
    (the reference's SimpleDateFormat.parse throws on them the same way)."""
    if not _DATE_PARTITION.match(partition.replace("/", "-")):
        raise ValueError(
            f"partition path {partition!r} is not date-shaped "
            f"(yyyy[-MM[-dd]]); the partition-aware strategies require "
            f"date partitioning (BoundedPartitionAwareCompactionStrategy "
            f"parses DATE_PARTITION_FORMAT the same way)")
    # numeric segment compare, NOT lexicographic: the validation regex
    # accepts single-digit months/days ('2024-3'), and '2024-3' >= '2024-0'
    # lexicographically would misclassify March as in an August window —
    # breaking the bounded/unbounded strategies' disjointness
    parts = [int(s) for s in partition.replace("/", "-").split("-")]
    cut = [int(s) for s in cutoff.split("-")][:len(parts)]
    return parts >= cut


def schedule_compaction(table, max_logs_per_slice: int = 1,
                        partitions=None,
                        strategy: str = STRATEGY_LOG_FILE_SIZE,
                        io_budget_bytes: Optional[int] = None,
                        day_partitions: int = 1,
                        today: Optional[str] = None) -> Optional[str]:
    """Pick the file slices whose logs should merge into new base files.

    - ``log_file_size``: slices with >= N log files, biggest log volume first
      (size-weighted, like LogFileSizeBasedCompactionStrategy's IO ordering).
    - ``bounded_io``: same ordering, cut off once estimated IO (base read +
      log read + base rewrite) exceeds ``io_budget_bytes``
      (BoundedIOCompactionStrategy).
    - ``day_based``: restrict to the ``day_partitions`` most recent partitions
      (DayBasedCompactionStrategy — partitions sort newest-first).
    - ``unbounded``: every slice with any log file.
    - ``bounded_partition_aware``: only partitions in the rolling
      [``today`` − ``day_partitions`` days, ∞) date window, newest first
      (BoundedPartitionAwareCompactionStrategy — date-like partition paths).
    - ``unbounded_partition_aware``: the complement — partitions older than
      that window (UnBoundedPartitionAwareCompactionStrategy), so the two
      jobs never overlap.
    """
    if table.tc.table_type != MERGE_ON_READ:
        return None
    from .clustering import pending_clustering_fgs
    frozen = set(pending_clustering_fgs(table))
    view = table.view()
    # pending-clustering groups are excluded: the replacecommit will swap
    # them out wholesale, so compacting them is wasted IO and a base-instant
    # race (reference excludes fileIds in pending clustering the same way)
    cand = [sl for sl in view.latest_slices(partitions)
            if sl.log_files and sl.file_group not in frozen]
    if strategy == STRATEGY_UNBOUNDED:
        chosen = cand
    elif strategy == STRATEGY_DAY_BASED:
        recent = sorted({sl.partition for sl in cand}, reverse=True)[:day_partitions]
        chosen = [sl for sl in cand if sl.partition in recent]
    elif strategy in (STRATEGY_BOUNDED_PARTITION, STRATEGY_UNBOUNDED_PARTITION):
        cutoff = _partition_cutoff(day_partitions, today)
        want = strategy == STRATEGY_BOUNDED_PARTITION
        chosen = sorted(
            (sl for sl in cand
             if _in_bounded_window(sl.partition, cutoff) == want),
            key=lambda sl: sl.partition.replace("/", "-"), reverse=True)
    else:
        chosen = sorted(
            (sl for sl in cand if len(sl.log_files) >= max_logs_per_slice),
            key=lambda sl: sl.log_size, reverse=True)
        if strategy == STRATEGY_BOUNDED_IO and io_budget_bytes is not None:
            spent, cut = 0, []
            for sl in chosen:
                io = 2 * sl.base_size + sl.log_size
                if spent + io > io_budget_bytes and cut:
                    break
                spent += io
                cut.append(sl)
            chosen = cut
    ops = [{"partition": sl.partition, "file_group": sl.file_group,
            "base_instant": sl.base_instant} for sl in chosen]
    if not ops:
        return None
    t = tl.new_instant_time()
    table.timeline.create_requested(
        t, tl.COMPACTION, {"operations": ops, "strategy": strategy})
    return t


def run_compaction(table, instant_time: Optional[str] = None) -> Optional[str]:
    if instant_time is None:
        pend = [i for i in table.timeline.pending() if i.action == tl.COMPACTION]
        if not pend:
            instant_time = schedule_compaction(table)
            if instant_time is None:
                return None
        else:
            instant_time = pend[0].time
    req = tl.Instant(instant_time, tl.COMPACTION, tl.REQUESTED)
    plan = table.timeline.read_metadata(req)
    fgs = {o["file_group"]: o["partition"] for o in plan["operations"]}
    with table._commit(tl.COMPACTION, COMPACT, requested=req, plan=plan,
                       completed_action=tl.COMMIT, post_commit=False) as op:
        slices = [sl for sl in op.view.latest_slices()
                  if sl.file_group in fgs]
        # _read_slices(raw=True) already merged base∪logs with the
        # latest-wins window and kept the delete markers; resolve them here.
        # cluster_by_fg keeps the output clustered by file group so the
        # write needs no repartition of its own (pre_partitioned): untouched
        # base rows flow scan→filter→write with zero exchange (the reference
        # compactor is likewise one streaming merge task per file group),
        # and only the log-touched rows ride the small merge shuffle.
        merged = table._read_slices(slices, read_optimized=False, raw=True,
                                    cluster_by_fg=True, view=op.view,
                                    active=op.active)
        merged = drop_deleted(merged).drop(API_DELETE)
        merged = merged.withColumn(META_FILE_NAME, F.col(FG))
        op.schema = table._read_schema(active=op.active)
        op.stats = write_instant_files(
            merged.select(*[c for c in merged.columns
                            if c in op.schema.names or c == FG]),
            table.meta, instant_time, fgs, table.cfg,
            sort_cols=[FG, "_hoodie_record_key"], pre_partitioned=True,
            ensure_fgs=set(fgs))
    return instant_time


def maybe_inline_compact(table) -> Optional[str]:
    """Trigger strategies (CompactionTriggerStrategy.java:21-29):
    NUM_COMMITS (default, >= N delta commits since last compaction),
    TIME_ELAPSED (>= S seconds since), NUM_AND_TIME, NUM_OR_TIME."""
    comp = table.timeline.completed([tl.COMMIT])
    last_compact = comp[-1].time if comp else ""
    deltas_since = [i for i in table.timeline.completed([tl.DELTA_COMMIT])
                    if i.time > last_compact]
    if not deltas_since:
        return None
    num_hit = len(deltas_since) >= table.cfg.compact_max_delta_commits
    elapsed = _instant_seconds(deltas_since[-1].time) - _instant_seconds(
        last_compact or deltas_since[0].time)
    time_hit = elapsed >= table.cfg.compact_max_delta_seconds
    trig = table.cfg.compact_trigger
    fire = {"num_commits": num_hit,
            "time_elapsed": time_hit,
            "num_and_time": num_hit and time_hit,
            "num_or_time": num_hit or time_hit}.get(trig, num_hit)
    if fire:
        return run_compaction(table)
    return None


def _instant_seconds(instant_time: str) -> float:
    """Epoch seconds from a yyyyMMddHHmmssSSS instant."""
    import calendar
    import time as _time
    base = calendar.timegm(_time.strptime(instant_time[:14], "%Y%m%d%H%M%S"))
    return base + int(instant_time[14:17] or 0) / 1000.0


# ---------------------------------------------------------------------------
# compaction admin (CompactionAdminTool / hudi-cli compaction commands)
# ---------------------------------------------------------------------------

def validate_compaction_plan(table, instant_time: str) -> list[dict]:
    """CompactionAdminTool VALIDATE: every planned operation must reference a
    file group whose latest slice still exists (and matches the planned base
    instant).  Returns one {partition, file_group, ok, error} per op."""
    req = tl.Instant(instant_time, tl.COMPACTION, tl.REQUESTED)
    plan = table.timeline.read_metadata(req)
    view = table.view()
    latest = {sl.file_group: sl for sl in view.latest_slices()}
    out = []
    for op in plan.get("operations", []):
        sl = latest.get(op["file_group"])
        if sl is None:
            err = "file group has no live slice (replaced or cleaned)"
        elif sl.base_instant != op.get("base_instant", sl.base_instant):
            err = (f"base instant moved: planned {op['base_instant']}, "
                   f"now {sl.base_instant}")
        else:
            err = None
        out.append({"partition": op["partition"],
                    "file_group": op["file_group"],
                    "ok": err is None, "error": err})
    return out


def unschedule_compaction(table, instant_time: str) -> bool:
    """CompactionAdminTool UNSCHEDULE: drop a REQUESTED compaction.  Safe by
    construction: delta writers that tagged log files with the pending
    instant re-resolve to the newest existing slice at read time (the
    fsview's pending-tag fallback), so no log record is orphaned."""
    req = tl.Instant(instant_time, tl.COMPACTION, tl.REQUESTED)
    pend = {i.time: i for i in table.timeline.pending()
            if i.action == tl.COMPACTION}
    ins = pend.get(instant_time)
    if ins is None:
        return False
    if ins.state != tl.REQUESTED:
        raise ValueError(
            f"compaction {instant_time} is {ins.state}; only a requested "
            "plan can be unscheduled (roll back an inflight run instead)")
    table.timeline.delete_instant(req)
    return True
