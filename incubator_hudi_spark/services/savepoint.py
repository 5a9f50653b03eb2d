"""Savepoint / restore.

Reference: SavepointActionExecutor.java:48-67 (pin a consistent snapshot so
the cleaner retains it), BaseRestoreActionExecutor.java:44-87 (roll back all
instants after a savepoint, newest first).
"""

from __future__ import annotations

from .. import timeline as tl
from .rollback import rollback_instant


def create_savepoint(table, at_instant: str | None = None) -> str:
    last = table.timeline.last_completed(tl.DATA_ACTIONS)
    if last is None:
        raise ValueError("nothing to savepoint")
    at = at_instant or last.time
    with table._commit(tl.SAVEPOINT, post_commit=False) as op:
        op.metadata = {"instant": op.instant.time, "savepoint_at": at}
    return op.instant.time


def delete_savepoint(table, savepoint_time: str) -> None:
    """Unpin a savepoint (SavepointActionExecutor's delete counterpart) so
    the cleaner may reclaim its versions and rollback/restore may pass it."""
    inst = tl.Instant(savepoint_time, tl.SAVEPOINT, tl.COMPLETED)
    table.timeline.read_metadata(inst)          # raises if absent
    table.timeline.delete_instant(inst)


def restore_to_savepoint(table, savepoint_time: str) -> str:
    """Roll back every data instant after the savepointed snapshot, newest
    first, then record a ``restore`` instant."""
    sps = {table.timeline.read_metadata(i).get("savepoint_at", i.time): i
           for i in table.timeline.completed([tl.SAVEPOINT])}
    if savepoint_time in sps:
        at = savepoint_time
    else:
        md = table.timeline.read_metadata(
            tl.Instant(savepoint_time, tl.SAVEPOINT, tl.COMPLETED))
        at = md.get("savepoint_at", savepoint_time)
    later = [(s, a) for s, a in (
        (i, table.timeline.read_metadata(i).get("savepoint_at", i.time))
        for i in table.timeline.completed([tl.SAVEPOINT])) if a > at]
    if later:
        raise ValueError(
            f"savepoints {[s.time for s, _ in later]} pin instants after "
            f"{at}; delete them before restoring")
    targets = [i for i in table.timeline.completed_data_instants() if i.time > at]
    for ins in reversed(targets):
        rollback_instant(table, ins.time)
    with table._commit(tl.RESTORE, post_commit=False) as op:
        op.metadata = {"instant": op.instant.time, "restored_to": at,
                       "rolled_back": [i.time for i in targets]}
    return op.instant.time
