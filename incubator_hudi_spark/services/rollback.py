"""Rollback: undo an instant — delete exactly the files it wrote.

Reference: BaseRollbackActionExecutor / BaseCopyOnWriteRollbackActionExecutor /
marker-based AbstractMarkerBasedRollbackStrategy.  Our manifest design makes
both COW and MOR rollback pure file deletion: a completed commit's metadata
lists its files; an inflight write's files live only under the per-instant
data directory (and are invisible to readers anyway since no completed
instant references them).
"""

from __future__ import annotations

import os
import shutil

from .. import timeline as tl


def _delete_instant_dir(table, instant_time: str) -> list[str]:
    d = table.meta.instant_data_dir(instant_time)
    deleted = []
    if os.path.isdir(d):
        for root, _dirs, files in os.walk(d):
            deleted += [table.meta.rel_path(os.path.join(root, f)) for f in files]
        shutil.rmtree(d)
    return deleted


def rollback_instant(table, instant_time: str) -> str:
    """Roll back a completed (or dangling) data instant.  Only the latest
    completed data instant may be rolled back (reference restriction —
    later commits may have built on it)."""
    timeline = table.timeline
    completed = timeline.completed_data_instants()
    target = next((i for i in completed if i.time == instant_time), None)
    if target is not None and completed and completed[-1].time != instant_time:
        raise ValueError(
            f"can only roll back the last completed data instant "
            f"({completed[-1].time}), not {instant_time}")
    # a savepoint pins the snapshot as of its `at` instant — rolling back
    # any COMPLETED instant that snapshot depends on would corrupt it (the
    # reference cleaner/restore likewise treat savepointed commits as
    # untouchable; delete the savepoint first).  Pending/dangling instants
    # (target is None) are invisible to readers, so crash recovery may roll
    # them back regardless of savepoint pins.
    if target is not None:
        for sp in timeline.completed([tl.SAVEPOINT]):
            at = timeline.read_metadata(sp).get("savepoint_at", sp.time)
            if instant_time <= at:
                raise ValueError(
                    f"instant {instant_time} is pinned by savepoint {sp.time} "
                    f"(at {at}); delete the savepoint before rolling back")

    from ..metadata_table import invalidate_from
    with table._commit(tl.ROLLBACK, post_commit=False) as op:
        # any metadata-table checkpoint covering the target is now wrong
        invalidate_from(table.meta, instant_time)
        deleted = _delete_instant_dir(table, instant_time)
        if target is not None:
            timeline.delete_instant(target)
        for st in (tl.REQUESTED, tl.INFLIGHT):
            for action in tl.DATA_ACTIONS:
                timeline.delete_instant(tl.Instant(instant_time, action, st))
        op.metadata = {"instant": op.instant.time,
                       "rolled_back_instant": instant_time,
                       "deleted_paths": deleted}
    return op.instant.time


def rollback_pending(table) -> list[str]:
    """Crash recovery: clear dangling inflight/requested *data* instants
    (rollback-on-open, like the reference's eager rollback of failed writes).

    Pending replacecommits carrying a CLUSTERING plan are live scheduled
    work, not crash debris (the reference likewise excludes pending
    clustering from rollback-on-start): a requested plan is kept as-is; a
    crashed execution (inflight) is reverted to requested — its partial
    data files are deleted and the plan re-parked for re-execution."""
    rolled = []
    for p in table.timeline.pending():
        if p.action not in tl.DATA_ACTIONS:
            continue
        if p.action == tl.REPLACE_COMMIT:
            try:
                md = table.timeline.read_metadata(p)
            except FileNotFoundError:
                md = {}
            if md.get("clustering"):
                if p.state == tl.INFLIGHT:
                    _delete_instant_dir(table, p.time)
                    table.timeline.create_requested(p.time, tl.REPLACE_COMMIT,
                                                    md)
                    table.timeline.delete_instant(p)
                continue
        rolled.append(rollback_instant(table, p.time))
    return rolled
