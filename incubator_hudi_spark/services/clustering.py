"""Clustering: rewrite small file slices into fewer, larger, sorted files.

Reference parity:
  - plan: SparkRecentDaysClusteringPlanStrategy.java:54-123 /
    PartitionAwareClusteringPlanStrategy (group small slices per partition).
  - run: SparkSortAndSizeExecutionStrategy.java:68-87 — bulk-insert-style
    rewrite sorted by user columns; a ``replacecommit`` swaps the file groups
    atomically (SparkRDDWriteClient.java:335-348).

Record meta columns are preserved (layout change only — snapshot identical).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import functions as F

from .. import timeline as tl
from ..config import CLUSTER, META_FILE_NAME, META_PARTITION_PATH, META_RECORD_KEY
from ..plans.buckets import new_fg_id
from ..writer import API_DELETE, FG, drop_deleted, write_instant_files


class ClusteringUpdateConflict(Exception):
    """An update/delete touches a file group frozen by a pending clustering
    plan (SparkRejectUpdateStrategy.java:41-62 — the reference's default
    update strategy under scheduled clustering).  Retry after the plan
    executes (``run_clustering``) or roll the plan back."""


def plan_clustering(table, partitions: Optional[Sequence[str]] = None,
                    small_file_limit: Optional[int] = None,
                    recent_partitions: Optional[int] = None) -> dict[str, list]:
    """Small slices grouped per partition (PartitionAwareClusteringPlanStrategy);
    ``recent_partitions`` keeps only the N newest partitions
    (SparkRecentDaysClusteringPlanStrategy.java:54-123)."""
    limit = small_file_limit or table.cfg.small_file_limit_bytes
    view = table.view()
    groups: dict[str, list] = {}
    for sl in view.latest_slices(partitions):
        if sl.base_size + sl.log_size < limit:
            groups.setdefault(sl.partition, []).append(sl)
    groups = {p: sls for p, sls in groups.items() if len(sls) >= 2}
    if recent_partitions is not None:
        keep = sorted(groups, reverse=True)[:recent_partitions]
        groups = {p: groups[p] for p in keep}
    return groups


def zorder_value(df, cols: Sequence[str], bits: int = 16):
    """Z-order (Morton) curve value over 2..4 numeric/date/timestamp
    columns as a pure Column expression: each column is min/max-normalized
    to ``bits`` bits (one agg job supplies the bounds as literals), then the
    bits are interleaved.  Sorting by the z-value gives every column
    locality simultaneously, so per-file [min, max] column stats prune
    range predicates on ANY of the columns — the standard multi-dimensional
    data-skipping layout (Morton 1966; the linear sort only serves its
    leading column).  Strings are unsupported (a hash would destroy the
    locality the curve exists to provide)."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder needs 2..4 columns")
    # interleaved positions must stay below bit 63 (long sign bit): a set
    # sign bit would sort those rows BEFORE everything and break the curve
    bits = min(bits, 63 // len(cols))
    for c in cols:
        t = df.schema[c].dataType.typeName()
        if t in ("string", "binary", "boolean", "map", "array", "struct"):
            raise ValueError(f"zorder column {c!r} has unsupported type {t}")
    bounds = df.agg(*[f for c in cols for f in
                      (F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                       F.max(F.col(c).cast("double")).alias(f"mx_{c}"))]
                    ).collect()[0]
    n = len(cols)
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            continue                     # constant/empty column adds nothing
        scaled = F.least(F.lit(top), F.greatest(F.lit(0), F.floor(
            (F.col(c).cast("double") - F.lit(float(mn)))
            / F.lit(float(mx - mn)) * top))).cast("long")
        for i in range(bits):
            z = z + F.shiftleft(F.shiftright(scaled, i).bitwiseAND(1),
                                i * n + j)
    return z


def schedule_clustering(table, sort_columns: Optional[Sequence[str]] = None,
                        partitions: Optional[Sequence[str]] = None,
                        small_file_limit: Optional[int] = None,
                        recent_partitions: Optional[int] = None,
                        layout: str = "linear") -> Optional[str]:
    """Persist a clustering plan as ``<t>.replacecommit.requested``
    (BaseClusteringPlanActionExecutor — the reference likewise parks the
    plan on the timeline so execution can run async).  While the plan is
    pending, upserts/deletes that touch its file groups are REJECTED
    (SparkRejectUpdateStrategy.java) and insert packing avoids them —
    the planned groups stay frozen until ``run_clustering`` executes."""
    groups = plan_clustering(table, partitions, small_file_limit,
                             recent_partitions)
    if not groups:
        return None
    ops = [{"partition": sl.partition, "file_group": sl.file_group,
            "base_instant": sl.base_instant}
           for sls in groups.values() for sl in sls]
    t = tl.new_instant_time()
    table.timeline.create_requested(
        t, tl.REPLACE_COMMIT,
        {"clustering": True, "operations": ops,
         "sort_columns": list(sort_columns) if sort_columns else None,
         "layout": layout})
    return t


def pending_clustering_plans(table, active=None) -> list[tuple[tl.Instant, dict]]:
    """Pending (requested/inflight) replacecommit instants that carry a
    clustering plan.  ``active``: optional ``timeline.instants()`` snapshot
    to derive pendings from instead of a fresh listing (keeps a write batch
    at one active-timeline listing)."""
    pend = (tl.pending_from(active) if active is not None
            else table.timeline.pending())
    out = []
    for p in pend:
        if p.action != tl.REPLACE_COMMIT:
            continue
        # an async executor may transition the plan between the caller's
        # listing and this read (requested → inflight deletes the requested
        # file).  Chase it; a plan that COMPLETED in that window must still
        # freeze its groups for this batch — the caller's view predates the
        # replace, so writing into the replaced groups would be lost.  The
        # completed replacecommit's metadata carries no "clustering" flag,
        # so reconstruct a frozen-set-only plan from its replaced groups.
        md = None
        for st in (p.state, tl.REQUESTED, tl.INFLIGHT):
            try:
                md = table.timeline.read_metadata(
                    tl.Instant(p.time, tl.REPLACE_COMMIT, st))
                break
            except FileNotFoundError:
                continue
        if md is None:
            try:
                done_md = table.timeline.read_metadata(
                    tl.Instant(p.time, tl.REPLACE_COMMIT, tl.COMPLETED))
            except FileNotFoundError:
                continue          # rolled back mid-race — nothing pending
            replaced = done_md.get("replaced_file_groups") or []
            if not replaced:
                continue
            md = {"clustering": True,
                  "operations": [{"partition": pr, "file_group": fg}
                                 for pr, fg in replaced]}
        if md.get("clustering"):
            out.append((p, md))
    return out


def pending_clustering_fgs(table, active=None) -> dict[str, str]:
    """file_group → pending clustering instant time, for conflict checks."""
    out: dict[str, str] = {}
    for p, md in pending_clustering_plans(table, active):
        for op in md.get("operations", []):
            out[op["file_group"]] = p.time
    return out


def run_clustering(table, sort_columns: Optional[Sequence[str]] = None,
                   partitions: Optional[Sequence[str]] = None,
                   small_file_limit: Optional[int] = None,
                   recent_partitions: Optional[int] = None,
                   layout: str = "linear",
                   instant_time: Optional[str] = None) -> Optional[str]:
    """Execute a scheduled clustering plan (``instant_time`` or the oldest
    pending one); with no pending plan, schedule + execute inline (the
    original one-shot behavior)."""
    plan_md = None
    if instant_time is None:
        pend = pending_clustering_plans(table)
        if pend:
            (pend_ins, plan_md) = pend[0]
            instant_time = pend_ins.time
        else:
            instant_time = schedule_clustering(
                table, sort_columns, partitions, small_file_limit,
                recent_partitions, layout)
            if instant_time is None:
                return None
    if plan_md is None:
        # a crashed execution leaves the plan INFLIGHT (requested consumed);
        # accept either state so retries work
        for st in (tl.REQUESTED, tl.INFLIGHT):
            try:
                plan_md = table.timeline.read_metadata(
                    tl.Instant(instant_time, tl.REPLACE_COMMIT, st))
                break
            except FileNotFoundError:
                continue
        if plan_md is None:
            raise FileNotFoundError(
                f"no pending clustering plan at {instant_time}")
    # crash-retry guard: transition_to_completed writes the completed file
    # BEFORE removing the inflight one (non-atomic), so inflight residue may
    # coexist with a COMPLETED instant — re-executing then would delete
    # committed files and overwrite the manifest.  Already done ⇒ done.
    if any(i.time == instant_time
           for i in table.timeline.completed([tl.REPLACE_COMMIT])):
        return instant_time
    req = tl.Instant(instant_time, tl.REPLACE_COMMIT, tl.REQUESTED)
    with table._commit(tl.REPLACE_COMMIT, CLUSTER, requested=req,
                       plan=plan_md, post_commit=False) as op:
        _execute_plan(table, op, plan_md, sort_columns, layout)
    return instant_time


def _execute_plan(table, op, plan_md: dict,
                  sort_columns: Optional[Sequence[str]], layout: str) -> None:
    """Rewrite a clustering plan's file groups under the inflight ``op``
    (HudiTable._commit), filling in its stats, schema and replaced groups."""
    instant_time = op.instant.time
    # a crashed attempt may have left partial files in this instant's data
    # dir — uncommitted, so unreachable by any reader, but write_instant_files
    # appends and collect_write_stats lists the WHOLE dir: committing now
    # would manifest both attempts' files and duplicate every clustered row.
    # Start the rewrite from an empty dir.
    import shutil
    shutil.rmtree(table.meta.instant_data_dir(instant_time),
                  ignore_errors=True)
    sort_columns = plan_md.get("sort_columns") or sort_columns
    layout = plan_md.get("layout") or layout

    # resolve the planned file groups against CURRENT latest slices: updates
    # to these groups were rejected while the plan was pending, so the only
    # legal change since scheduling is none (COW) or nothing (MOR logs are
    # updates too) — a vanished group (rollback) just drops out of the plan
    plan_fgs = {o["file_group"] for o in plan_md["operations"]}
    slices = [sl for sl in op.view.latest_slices()
              if sl.file_group in plan_fgs]
    groups: dict[str, list] = {}
    for sl in slices:
        groups.setdefault(sl.partition, []).append(sl)
    op.schema = table._read_schema(active=op.active)
    op.replaced = [(sl.partition, sl.file_group) for sl in slices]
    if not groups:
        return      # nothing left to rewrite: an empty replacecommit
    df = table._read_slices(slices, read_optimized=False, raw=True,
                            view=op.view, active=op.active)
    df = drop_deleted(df).drop(API_DELETE)

    # SparkSortAndSizeExecutionStrategy.java:68-87: rewrite each partition
    # group sorted by the user columns into ceil(total/target) file groups.
    # The ntile window funnels one partition group through one task — at
    # cluster scale that group is itself <= a handful of target-size files
    # (recent_partitions bounds the batch), so the funnel is the planned unit
    # of work, exactly like the reference's one-Spark-task-per-group rewrite.
    sort_cols = list(sort_columns) if sort_columns else [META_RECORD_KEY]
    if layout == "zorder":
        # files are ASSIGNED by z-value range (inter-file locality on every
        # sort column); rows inside a file keep the linear sort so row-group
        # stats stay tight on the leading column
        df = df.withColumn("_hoodie_zv", zorder_value(df, sort_cols))
        order_cols: list = ["_hoodie_zv"]
    elif layout == "linear":
        order_cols = sort_cols
    else:
        raise ValueError(f"unknown clustering layout {layout!r} "
                         "(linear | zorder)")
    fg_map: dict[str, str] = {}
    tiles = []
    for p, sls in sorted(groups.items()):
        total = sum(sl.base_size + sl.log_size for sl in sls)
        n_out = max(1, -(-total // table.cfg.target_file_size_bytes))
        fgs = [new_fg_id() for _ in range(n_out)]
        for fg in fgs:
            fg_map[fg] = p
        tiles.append((p, fgs))
    from pyspark.sql.window import Window
    w = Window.partitionBy(META_PARTITION_PATH).orderBy(*order_cols)
    fg_arrays = F.create_map(*[x for p, fgs in tiles
                               for x in (F.lit(p), F.array(*[F.lit(g) for g in fgs]))])
    n_map = F.create_map(*[x for p, fgs in tiles
                           for x in (F.lit(p), F.lit(len(fgs)))])
    # ntile percentile of the sort order → file-group index 0..n-1 per partition
    df = (df.withColumn("_nt", F.ntile(100).over(w))
            .withColumn(FG, fg_arrays[F.col(META_PARTITION_PATH)][
                F.floor(((F.col("_nt") - 1) * n_map[F.col(META_PARTITION_PATH)])
                        / 100).cast("int")])
            .drop("_nt"))
    df = df.withColumn(META_FILE_NAME, F.col(FG))
    op.stats = write_instant_files(
        df.select(*[c for c in df.columns
                    if c in op.schema.names or c == FG]),
        table.meta, instant_time, fg_map, table.cfg, sort_cols=sort_cols)
