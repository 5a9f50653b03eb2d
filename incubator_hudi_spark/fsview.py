"""File-system view: "latest file slices per partition as of instant X".

Reference: hudi-common/.../table/view/TableFileSystemView.java and
AbstractTableFileSystemView.java (1118 LoC of listing+timeline logic), plus
the embedded timeline server (hudi-timeline-service/.../TimelineService.java:47)
that exists so executors don't re-list the filesystem.

Our engine needs none of that machinery: completed commit metadata is a file
**manifest** (like the reference's metadata table, HoodieBackedTableMetadataWriter,
taken to its logical end), so the view is a pure fold over the timeline —
O(#instants × #files-per-commit) driver work, zero filesystem listing.  Spark
then distributes the resolved path list inside the read job itself.

Data-file model (SURVEY §1.2):
  - FileGroup  = (partition_path, file_group_id)
  - FileSlice  = one version: base parquet file(s) written at ``base_instant``
                 + ordered delta ("log") parquet files from later deltacommits
  - COW rewrite → new slice (new base_instant); MOR upsert → delta file
    appended to the latest slice; compaction → new slice.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Iterable, Optional

from . import timeline as tl
from .metaclient import TableMetaClient


@dataclass
class WriteStat:
    """One file written by a commit (HoodieCommitMetadata writeStats)."""

    partition: str
    file_group: str
    path: str              # relative to table base path (absolute if external)
    size: int = 0
    num_records: int = 0
    min_key: Optional[str] = None
    max_key: Optional[str] = None
    log: bool = False      # True → MOR delta file
    base_instant: Optional[str] = None  # slice this log file attaches to
    # METADATA_ONLY-bootstrapped source file: owned by the user (never
    # cleaned), lacks meta columns (derived at read time via keygen exprs)
    external: bool = False
    # per-column [min, max] from the parquet footer for the configured
    # stats columns (WriteConfig.stats_columns) — the column-stats index
    # that drives read-side data skipping (read_filtered)
    col_stats: Optional[dict] = None

    def to_json(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_json(d: dict) -> "WriteStat":
        kw = {k: d.get(k) for k in (
            "partition", "file_group", "path", "size", "num_records",
            "min_key", "max_key", "log", "base_instant", "col_stats")}
        kw["external"] = bool(d.get("external", False))
        return WriteStat(**kw)


@dataclass
class LogFile:
    instant: str
    path: str
    size: int = 0
    num_records: int = 0
    # the base_instant the writer tagged (may be a then-pending compaction
    # instant — resolved to an existing slice at fold time, but preserved so
    # checkpoints can re-resolve after the compaction lands)
    tag: Optional[str] = None


def base_key_range(sl: "FileSlice") -> Optional[tuple[str, str]]:
    """Record-key [min, max] proven by the slice's base-file stats, or None
    when any base file lacks stats (an empty/ensure file, an external
    bootstrap file) — a range from a subset could wrongly exclude keys that
    live in the stat-less file, so incomplete means unprunable.  Log files
    are fine: MOR deltas only ever carry keys of their slice's base
    (inserts open new file groups), so the base range covers them."""
    mins = [f.min_key for f in sl.base_files if f.min_key is not None]
    maxs = [f.max_key for f in sl.base_files if f.max_key is not None]
    if not mins or len(mins) != len(sl.base_files) \
            or len(maxs) != len(sl.base_files):
        return None
    return min(mins), max(maxs)


def may_hold_keys(sl: "FileSlice", lo: Optional[str],
                  hi: Optional[str]) -> bool:
    """False only when the slice's base stats prove it holds no record key
    in [lo, hi] (BLOOM-style min/max range pruning,
    SparkHoodieBloomIndex.java:119-140); unknown bounds or incomplete stats
    cannot prune."""
    rng = base_key_range(sl)
    if rng is None or lo is None or hi is None:
        return True
    return not (hi < rng[0] or lo > rng[1])


@dataclass
class FileSlice:
    partition: str
    file_group: str
    base_instant: str
    base_files: list[WriteStat] = field(default_factory=list)
    log_files: list[LogFile] = field(default_factory=list)

    @property
    def base_size(self) -> int:
        return sum(f.size for f in self.base_files)

    @property
    def log_size(self) -> int:
        return sum(f.size for f in self.log_files)


class FileSystemView:
    """Fold the completed timeline into file groups/slices."""

    def __init__(self, meta: TableMetaClient, as_of: Optional[str] = None,
                 active_instants: Optional[list] = None):
        self.meta = meta
        self.as_of = as_of
        # caller-provided snapshot of the ACTIVE timeline listing: lets a
        # write batch build its cache-validity token and its view from the
        # SAME single `.hoodie` listing (token ≡ view state by construction
        # — no capture-ordering argument, no stability re-check needed)
        self._active_instants = active_instants
        # (partition, fg) -> {base_instant -> FileSlice}
        self._groups: dict[tuple[str, str], dict[str, FileSlice]] = {}
        # (partition, fg) -> instant at which the group was replaced
        self._replaced: dict[tuple[str, str], str] = {}
        self._cleaned_paths: set[str] = set()
        # log path -> every file group whose rows the file contains (grouped
        # delta files are shared) — recorded for EVERY log WriteStat folded,
        # including orphaned/replaced ones, so readers can prove a scanned
        # file holds no foreign rows and skip the per-(file, group) filter.
        # Incomplete when the fold started from a metadata-table checkpoint
        # (pre-checkpoint stats unseen) — readers must then filter.
        self._log_path_fgs: dict[str, set] = {}
        self._log_refs_complete = True
        # lazy partition → group-keys index (see _partition_index); views
        # are immutable after _build, so it never needs invalidation
        self._part_idx: Optional[dict[str, list]] = None
        self._build()

    # ------------------------------------------------------------------
    def _build(self) -> None:
        from . import metadata_table as mt

        # start from the newest metadata-table checkpoint ≤ as_of, then fold
        # only the timeline tail; without one, fold the exact history
        # (archived + active instants)
        lo = mt.latest_checkpoint_time(self.meta, as_of=self.as_of)
        if lo is not None:
            try:
                self._groups, self._replaced = mt.load_state(self.meta, lo)
                self._log_refs_complete = False   # pre-checkpoint refs unseen
            except Exception:
                self._groups, self._replaced = {}, {}
                lo = None
        acts_folded = set(tl.DATA_ACTIONS) | {tl.CLEAN}
        if self._active_instants is not None:
            completed = tl.completed_from(self._active_instants, acts_folded)
        else:
            completed = self.meta.timeline.completed(sorted(acts_folded))
        instants = [
            i for i in completed
            if (self.as_of is None or i.time <= self.as_of)
            and (lo is None or i.time > lo)
        ]
        if lo is None:
            acts = set(tl.DATA_ACTIONS) | {tl.CLEAN}
            archived = [
                i for i in self.meta.timeline.archived_instants()
                if i.action in acts and (self.as_of is None or i.time <= self.as_of)
            ]
            instants = sorted(set(archived + instants),
                              key=lambda i: (i.time, i.action))
        for ins in instants:
            md = self.meta.timeline.read_metadata(ins)
            if ins.action == tl.CLEAN:
                self._cleaned_paths.update(md.get("deleted_paths", []))
                continue
            for d in md.get("write_stats", []):
                st = WriteStat.from_json(d)
                key = (st.partition, st.file_group)
                if st.log:
                    # owner registration BEFORE any attach/skip decision: an
                    # orphaned stat's rows still sit in the (possibly shared)
                    # file and count as foreign content for other readers.
                    # A true orphan must NOT register its group (a sliceless
                    # group would leak into partitions()/coverage sets and
                    # every other _groups consumer).
                    self._log_path_fgs.setdefault(st.path, set()).add(
                        st.file_group)
                    slices = self._groups.get(key)
                    base = st.base_instant or (max(slices) if slices else None)
                    if base is None or not slices:
                        # true orphan (base compacted away before as_of)
                        continue
                    if base not in slices:
                        if base > max(slices):
                            # log tagged with a pending-compaction instant
                            # whose base hasn't landed yet — serve it from the
                            # newest existing slice until then
                            base = max(slices)
                        else:
                            # true orphan (base compacted away before as_of)
                            continue
                    slices[base].log_files.append(
                        LogFile(ins.time, st.path, st.size, st.num_records,
                                tag=st.base_instant or base))
                else:
                    slices = self._groups.setdefault(key, {})
                    sl = slices.setdefault(
                        st.base_instant or ins.time,
                        FileSlice(st.partition, st.file_group, st.base_instant or ins.time))
                    sl.base_files.append(st)
            for part, fg in md.get("replaced_file_groups", []):
                self._replaced.setdefault((part, fg), ins.time)

    # ------------------------------------------------------------------
    def _partition_index(self) -> dict[str, list]:
        """partition → [(partition, fg), ...], built lazily ONCE.  Keeps
        partition-pruned lookups O(groups in partition): the insert bucket
        planner calls small_files() per batch partition, which would
        otherwise scan every group per call — O(partitions × groups)
        driver work, a real quadratic at 100k-partition scale (measured:
        the all-partition plan grew 6.8→108 ms from 332→1328 partitions
        before this index)."""
        if self._part_idx is None:
            idx: dict[str, list] = {}
            for key in self._groups:
                idx.setdefault(key[0], []).append(key)
            self._part_idx = idx
        return self._part_idx

    def latest_slices(self, partitions: Optional[Iterable[str]] = None
                      ) -> list[FileSlice]:
        """Latest live slice per file group (partition-pruned if asked)."""
        if partitions is not None:
            pidx = self._partition_index()
            keys = [k for p in sorted(set(partitions))
                    for k in pidx.get(p, [])]
        else:
            keys = self._groups.keys()
        out = []
        for key in keys:
            if key in self._replaced:
                continue
            sl = self._latest_live(self._groups[key])
            if sl is not None:
                out.append(sl)
        return sorted(out, key=lambda s: (s.partition, s.file_group))

    def _latest_live(self, slices: dict[str, FileSlice]) -> Optional[FileSlice]:
        for base in sorted(slices, reverse=True):
            sl = slices[base]
            live_bases = [f for f in sl.base_files if f.path not in self._cleaned_paths]
            if live_bases:
                live_logs = [l for l in sl.log_files if l.path not in self._cleaned_paths]
                if len(live_bases) == len(sl.base_files):
                    return FileSlice(sl.partition, sl.file_group, sl.base_instant,
                                     live_bases, sorted(live_logs, key=lambda l: l.instant))
        return None

    def all_slices(self) -> list[tuple[tuple[str, str], list[FileSlice]]]:
        """Every (file group → slices newest-first), for cleaning/compaction
        planning.  Groups with NO slices are skipped defensively (a
        checkpoint written by an older build could carry one; _build itself
        no longer registers orphan-bookkeeping groups)."""
        out = []
        for key, slices in self._groups.items():
            if not slices:
                continue
            ordered = [slices[b] for b in sorted(slices, reverse=True)]
            out.append((key, ordered))
        return out

    def replaced_groups(self) -> dict[tuple[str, str], str]:
        return dict(self._replaced)

    def log_path_owners(self, rel_path: str):
        """Every file group with rows in ``rel_path``, or None when ownership
        cannot be proven complete (checkpoint-based fold) — callers must then
        apply the per-(file, group) read filter."""
        if not self._log_refs_complete:
            return None
        return self._log_path_fgs.get(rel_path, set())

    def cleaned_paths(self) -> set[str]:
        return set(self._cleaned_paths)

    def group_count(self) -> int:
        """Live (non-replaced, sliced) file-group count — O(#groups) dict
        walk, no slice-list construction; the auto probe router's spread
        denominator."""
        return sum(1 for key, s in self._groups.items()
                   if s and key not in self._replaced)

    def partitions(self) -> list[str]:
        return sorted({
            part for (part, fg) in self._groups
            if (part, fg) not in self._replaced
        })

    # ---- planning helpers ------------------------------------------------
    def small_files(self, partition: str, limit_bytes: int) -> list[FileSlice]:
        """Candidate slices for insert bin-packing (UpsertPartitioner.java:157-225).
        Only clean COW slices (no logs) qualify."""
        return [
            sl for sl in self.latest_slices([partition])
            if sl.base_size < limit_bytes and not sl.log_files
        ]


def incremental_window(timeline, begin, end):
    """Resolve the incremental pull window (begin, end]: the ordered data
    instants inside it (active ∪ archived, deduped on (time, action)), the
    effective upper bound, and the set of touched file groups.  Shared by
    table._read_incremental and the native DataSource planner
    (pyds._plan_slices) so the two cannot desync on these semantics.
    Returns (instants, hi, touched_file_groups); instants may be empty."""
    from . import timeline as tl

    active = timeline.completed_data_instants()
    seen = {(i.time, i.action) for i in active}
    archived = [i for i in timeline.archived_instants()
                if i.action in tl.DATA_ACTIONS
                and (i.time, i.action) not in seen]
    instants = sorted(
        (i for i in active + archived
         if (begin is None or i.time > begin)
         and (end is None or i.time <= end)),
        key=lambda i: i.time)
    if not instants:
        return [], None, set()
    hi = end or instants[-1].time
    touched: set = set()
    for ins in instants:
        md = timeline.read_metadata(ins)
        touched.update(st["file_group"] for st in md.get("write_stats", []))
    return instants, hi, touched


def _hadoop_glob_regex(glob: str) -> str:
    """Translate a glob to regex with org.apache.hadoop.fs.GlobPattern
    semantics — the matcher the reference compiles for INCR_PATH_GLOB
    (IncrementalRelation.scala:141, MergeOnReadIncrementalRelation.scala:179
    both build ``new GlobPattern("*" + pattern)``).  GlobPattern's ``*``
    compiles to ``.*`` (it DOES cross ``/`` — path-segment splitting is a
    globStatus concern, not GlobPattern's), ``?`` to ``.``, ``{a,b}`` to an
    alternation, ``[!x]`` to ``[^x]``, ``\\`` escapes the next char."""
    out, i, curly = [], 0, 0
    n = len(glob)
    while i < n:
        c = glob[i]
        if c == "\\" and i + 1 < n:
            out.append(re.escape(glob[i + 1]))
            i += 2
            continue
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "{":
            out.append("(?:")
            curly += 1
        elif c == "," and curly:
            out.append("|")
        elif c == "}" and curly:
            out.append(")")
            curly -= 1
        elif c == "[":
            j = i + 1
            neg = j < n and glob[j] == "!"
            if neg:
                j += 1
            # scan to the closing ] honoring backslash escapes (GlobPattern
            # handles BACKSLASH before set logic, so '[\]]' is a set holding
            # a literal ']'); a ']' first in the set is also literal
            k = j
            if k < n and glob[k] == "]":
                k += 1
            while k < n and glob[k] != "]":
                k += 2 if glob[k] == "\\" and k + 1 < n else 1
            if k >= n:  # unterminated set → literal '['
                out.append(re.escape(c))
            else:
                body, b = [], j
                while b < k:
                    if glob[b] == "\\" and b + 1 < k:
                        body.append("\\" + glob[b + 1]
                                    if glob[b + 1] in r"\]^[-"
                                    else re.escape(glob[b + 1]))
                        b += 2
                    else:
                        body.append("\\\\" if glob[b] == "\\" else glob[b])
                        b += 1
                out.append(("[^" if neg else "[") + "".join(body) + "]")
                i = k + 1
                continue
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


def filter_slices_by_glob(slices, path_glob: Optional[str]):
    """Incremental path-glob filter (DataSourceOptions.scala:87-99
    INCR_PATH_GLOB).  Exact matcher parity with the reference: it compiles
    ``GlobPattern("*" + glob)`` and full-matches file paths
    (IncrementalRelation.scala:141-143 per-file for COW;
    MergeOnReadIncrementalRelation.scala:177-186 per file group, testing the
    base file if present else the latest log file).  Note GlobPattern's
    ``*`` is ``.*`` — it crosses ``/`` — so ``'03/*'`` matching
    ``'2024-03/x'`` is reference behavior, not an artifact.

    The reference matches full physical paths (its layout IS partition
    dirs); this engine's physical layout is instant dirs, so the glob is
    matched against the logical ``<partition_path>/<file name>`` — user
    globs like ``'2024-0*/*'`` stay portable.  Granularity follows the MOR
    reference: a whole slice is kept or dropped on its base file's path
    (falling back to the newest log file for log-only slices), so rows from
    non-matching log files of a matching slice are still returned — the
    same file-group coarseness as MergeOnReadIncrementalRelation.  Shared by
    table._read_incremental and the native DataSource planner so the two
    cannot desync."""
    if not path_glob:
        return slices
    import os as _os
    pat = re.compile(".*" + _hadoop_glob_regex(path_glob))

    def _hit(sl) -> bool:
        if sl.base_files:
            names = [_os.path.basename(f.path) for f in sl.base_files]
        elif sl.log_files:
            names = [_os.path.basename(sl.log_files[-1].path)]
        else:
            return False
        return any(pat.fullmatch(f"{sl.partition}/{n}") for n in names)

    return [sl for sl in slices if _hit(sl)]
