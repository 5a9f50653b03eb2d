"""Cleaning: physically delete file versions no longer needed by readers.

Reference: CleanPlanner.java:68-390 (431 LoC); policies
HoodieCleaningPolicy.java:24-26:
  - KEEP_LATEST_COMMITS (default, retain 10): keep every slice a snapshot at
    any of the last N commit times could still read;
  - KEEP_LATEST_FILE_VERSIONS: keep the newest K slices per file group.
Guards: never touch files referenced by savepoints or pending compactions.
Replaced file groups (insert_overwrite / delete_partition) are reclaimed once
out of the retention window.
"""

from __future__ import annotations

import os

from .. import timeline as tl
from ..config import CLEAN_KEEP_LATEST_COMMITS


def _savepointed_instants(table) -> set[str]:
    out = set()
    for ins in table.timeline.completed([tl.SAVEPOINT]):
        md = table.timeline.read_metadata(ins)
        out.add(md.get("savepoint_at", ins.time))
    return out


def run_clean(table) -> dict:
    timeline = table.timeline
    view = table.view()
    data_instants = timeline.completed_data_instants()
    if not data_instants:
        return {"deleted": 0}

    retained = table.cfg.clean_retain_commits
    earliest_retained = (data_instants[-retained].time
                         if len(data_instants) > retained else data_instants[0].time)
    savepoints = _savepointed_instants(table)
    pending_compaction_fgs = set()
    for p in timeline.pending():
        if p.action == tl.COMPACTION:
            md = timeline.read_metadata(p)
            pending_compaction_fgs.update(
                op["file_group"] for op in md.get("operations", []))

    to_delete: list[str] = []
    # grouped delta files are shared across file groups: a path is deletable
    # only when NO retained slice still references it, so every slice that
    # survives this pass contributes its paths to a keep-set subtracted at
    # the end (path-level refcount; per-group files are unaffected — their
    # single owner decides)
    kept_paths: set[str] = set()

    def _keep(slices_kept) -> None:
        for sl in slices_kept:
            kept_paths.update(f.path for f in sl.base_files)
            kept_paths.update(l.path for l in sl.log_files)

    replaced = view.replaced_groups()
    for (part, fg), slices in view.all_slices():
        if fg in pending_compaction_fgs:
            _keep(slices)
            continue
        replaced_at = replaced.get((part, fg))
        if replaced_at is not None and replaced_at < earliest_retained \
                and not any(sp >= replaced_at for sp in savepoints):
            for sl in slices:
                to_delete += [f.path for f in sl.base_files if not f.external]
                to_delete += [l.path for l in sl.log_files]
            continue
        if table.cfg.clean_policy == CLEAN_KEEP_LATEST_COMMITS:
            # a slice is needed iff some protected snapshot time t (any time in
            # the retention window, or a savepoint) resolves to it — i.e. it is
            # the newest slice with base_instant <= t — or it is simply newer
            # than the retention floor; plus always the newest slice.
            bases = [sl.base_instant for sl in slices]  # newest-first
            needed = {b for b in bases if b >= earliest_retained}
            needed.add(bases[0])
            for t in set(savepoints) | {earliest_retained}:
                cand = max((b for b in bases if b <= t), default=None)
                if cand is not None:
                    needed.add(cand)
            for sl in slices:
                if sl.base_instant not in needed:
                    to_delete += [f.path for f in sl.base_files if not f.external]
                    to_delete += [l.path for l in sl.log_files]
                else:
                    _keep([sl])
        else:  # KEEP_LATEST_FILE_VERSIONS
            keep = table.cfg.clean_retain_file_versions
            _keep(slices[:keep])
            for sl in slices[keep:]:
                to_delete += [f.path for f in sl.base_files if not f.external]
                to_delete += [l.path for l in sl.log_files]

    already = view.cleaned_paths()
    to_delete = sorted((set(to_delete) - kept_paths) - already)
    if not to_delete:
        return {"deleted": 0}

    retained_setting = (str(table.cfg.clean_retain_commits)
                        if table.cfg.clean_policy == CLEAN_KEEP_LATEST_COMMITS
                        else str(table.cfg.clean_retain_file_versions))
    with table._commit(tl.CLEAN, post_commit=False) as op:
        for rel in to_delete:
            p = table.meta.abs_path(rel)
            if os.path.exists(p):
                os.remove(p)
        op.metadata = {"instant": op.instant.time, "deleted_paths": to_delete,
                       "earliest_retained": earliest_retained,
                       "policy": table.cfg.clean_policy,
                       "retained": retained_setting}
    return {"deleted": len(to_delete), "instant": op.instant.time}
