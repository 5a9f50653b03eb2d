"""Native PySpark DataSource: ``spark.read.format("hudi_py")`` and
``spark.readStream.format("hudi_py")``.

Reference surfaces re-expressed:

- batch relations dispatch: hudi-spark-datasource/hudi-spark/src/main/scala/
  org/apache/spark/sql/hudi/DefaultSource.scala:111-137 (snapshot /
  read-optimized / incremental by ``hoodie.datasource.query.type``)
- streaming source: HoodieStreamSource.scala:49-144 + HoodieSourceOffset.scala
  — offsets are commit instant times; each micro-batch is the incremental
  query between two instants, exactly-once via the Spark offset log.

PySpark 4's Python DataSource API (SPARK-44076) makes this a *genuine*
registered format — no JVM code — superseding the facade-only note in
datasource.py and the polling workaround in streaming/source.py (both kept:
the facade is still the option-map-compatible writer surface, and the poller
drives table-to-table incremental pipelines without a streaming query).

Execution model
---------------
- Driver-side planning (``partitions()`` / offsets) folds the same timeline
  manifests as the DataFrame read path (fsview.FileSystemView), so slice
  resolution, replaced-group filtering and incremental semantics are
  identical by construction.
- One ``InputPartition`` per file slice → task parallelism = file-group
  parallelism, the same unit the reference's HoodieMergeOnReadRDD uses.
- Executor-side ``read()`` is pyarrow: clean slices stream parquet record
  batches straight through (with the commit-range filter pushed to parquet
  row groups); dirty MOR slices run the latest-wins merge kernel
  (writer.merge_latest semantics, see _merge_slice) in PURE pyarrow compute
  — no pandas round-trip, so a dirty slice's peak memory is a small
  multiple of its columnar bytes (at the reference's 120 MB base-file
  target, a ~0.5–1 GB dirty slice stays columnar instead of ballooning
  2–5× through pandas object boxing; only int64 position arrays go through
  numpy, zero-copy).  No SparkSession is touched outside the driver.

Limitations (declared):
- SQL ``CREATE TABLE … USING hudi_py`` resolves the schema but Spark 4.1
  does not forward the stored OPTIONS/LOCATION to Python-data-source scans
  (and ``hudi_py.`path``` syntax is rejected) — SQL-on-hudi goes through
  the catalog registrations in sync.py instead.
  tests/test_pyds.py::test_sql_using_hudi_py_watch self-unskips when a
  newer Spark starts forwarding them.
(METADATA_ONLY-bootstrapped slices read natively since r4 — the kernel
derives the virtual skeleton; see SlicePartition.external.)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Optional, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamReader, EqualTo, Filter,
                                    In, InputPartition)
from pyspark.sql.types import StructType

from . import timeline as tl
from .config import (DELETE_MARKER, META_COMMIT_SEQNO, META_COMMIT_TIME,
                     META_FILE_NAME, META_PARTITION_PATH, META_RECORD_KEY,
                     PAYLOAD_DEFAULT, PAYLOAD_OVERWRITE_NON_DEFAULTS,
                     QUERY_INCREMENTAL, QUERY_READ_OPTIMIZED, QUERY_SNAPSHOT)
from .metaclient import TableMetaClient

API_DELETE = "_hoodie_api_delete"  # writer.py:40 (avoid importing writer's
DELETE_COLS = (DELETE_MARKER, API_DELETE)  # Spark deps in plan-time workers)

_QUERY_TYPES = {"snapshot": QUERY_SNAPSHOT,
                "read_optimized": QUERY_READ_OPTIMIZED,
                "incremental": QUERY_INCREMENTAL}


@dataclass
class SlicePartition(InputPartition):
    """One file slice → one task (HoodieMergeOnReadRDD's split unit)."""
    file_group: str
    partition: str
    base_paths: list = field(default_factory=list)      # absolute
    log_paths: list = field(default_factory=list)       # absolute, commit order
    commit_lo: Optional[str] = None   # exclusive
    commit_hi: Optional[str] = None   # inclusive
    drop_deletes: bool = True         # False for read-optimized (raw bases)
    # METADATA_ONLY-bootstrapped slice: base_paths are the adopted EXTERNAL
    # parquet files (no meta columns stored); the kernel derives the virtual
    # skeleton — key via the pandas keygen, partition/commit-time/file-name
    # from the literals below (HoodieBootstrapRelation.scala /
    # HoodieBootstrapRDD.scala stitch physical skeleton files instead)
    external: bool = False
    base_instant: Optional[str] = None
    key_fields: Optional[list] = None


def _norm_path(path: Optional[str]) -> Optional[str]:
    """SQL surfaces (CREATE TABLE … USING hudi_py) hand the location over as
    a file: URI — normalize to a plain local path."""
    if path and path.startswith("file:"):
        import re
        return re.sub("^file:/{0,2}(?=/)", "", path) or path
    return path


def _meta(options) -> TableMetaClient:
    path = _norm_path(options.get("path"))
    if not path:
        raise ValueError("hudi_py: .load(path) / .option('path', …) required")
    if not TableMetaClient.exists(path):
        raise ValueError(f"hudi_py: not a hudi table: {path}")
    return TableMetaClient(path)


def _stored_schema(meta: TableMetaClient) -> StructType:
    """table.HudiTable.stored_schema without a SparkSession (timeline JSON)."""
    import json

    last = meta.timeline.last_completed(tl.DATA_ACTIONS)
    if last is None:
        archived = sorted((i for i in meta.timeline.archived_instants()
                           if i.action in tl.DATA_ACTIONS),
                          key=lambda i: i.time)
        if not archived:
            raise ValueError("hudi_py: table has no completed commits")
        last = archived[-1]
    sj = meta.timeline.read_metadata(last).get("schema")
    if not sj:
        raise ValueError("hudi_py: commit carries no schema")
    return StructType.fromJson(json.loads(sj))


def _plan_slices(meta: TableMetaClient, query_type: str,
                 begin: Optional[str], end: Optional[str],
                 partitions: Optional[Sequence[str]],
                 as_of: Optional[str] = None,
                 path_glob: Optional[str] = None) -> list[SlicePartition]:
    """Mirror of table._read_incremental / snapshot slice resolution."""
    from .fsview import FileSystemView

    commit_lo = commit_hi = None
    if query_type == QUERY_INCREMENTAL:
        from .fsview import filter_slices_by_glob, incremental_window
        instants, hi, touched = incremental_window(meta.timeline, begin, end)
        if not instants:
            return []
        commit_hi, commit_lo = hi, begin
        view = FileSystemView(meta, as_of=commit_hi)
        slices = filter_slices_by_glob(
            [sl for sl in view.latest_slices(partitions)
             if sl.file_group in touched], path_glob)
    else:
        # time travel = fold the timeline only up to as_of (the DataFrame
        # path's read(as_of=...) — no row filter needed: later commits'
        # files simply don't exist in the folded view)
        view = FileSystemView(meta, as_of=as_of)
        slices = view.latest_slices(partitions)

    out = []
    ro = query_type == QUERY_READ_OPTIMIZED
    for sl in slices:
        if any(f.external for f in sl.base_files):
            # METADATA_ONLY bootstrap group: exactly the adopted source file,
            # no logs (updates rewrite the group instead, table.py) — ship
            # the literals the kernel needs to derive the virtual skeleton
            out.append(SlicePartition(
                file_group=sl.file_group, partition=sl.partition,
                base_paths=[f.path for f in sl.base_files],
                commit_lo=commit_lo, commit_hi=commit_hi,
                external=True, base_instant=sl.base_instant,
                key_fields=list(meta.config.recordkey_fields)))
            continue
        out.append(SlicePartition(
            file_group=sl.file_group,
            partition=sl.partition,
            base_paths=[meta.abs_path(f.path) for f in sl.base_files],
            log_paths=[] if ro else
                      [meta.abs_path(l.path) for l in sl.log_files],
            commit_lo=commit_lo, commit_hi=commit_hi,
            drop_deletes=not ro))
    return out


# ---------------------------------------------------------------------------
# executor-side read kernel (pure pyarrow/pandas — no SparkSession)
# ---------------------------------------------------------------------------
def _read_file(path: str, filters=None):
    """Read one base/delta file by suffix (TableConfig.base_format: ORC base
    files coexist with parquet deltas).  ``filters`` (commit-range tuples)
    push to parquet row groups; ORC lacks a pyarrow filter API, so they are
    applied post-read."""
    import pyarrow.parquet as pq

    if path.endswith(".orc"):
        import pyarrow.compute as pc
        import pyarrow.orc as orc
        tbl = orc.ORCFile(path).read()
        for col, op, val in filters or ():
            arr = tbl.column(col)
            mask = pc.greater(arr, val) if op == ">" else \
                pc.less_equal(arr, val)
            tbl = tbl.filter(mask)
        return tbl
    return pq.read_table(path, filters=filters)


def _align(tbl, arrow_schema):
    """Project/cast a parquet-read table onto the target arrow schema,
    materializing absent columns (e.g. _hoodie_api_delete never stored in
    base files) as nulls — Spark's scan-with-schema behavior."""
    import pyarrow as pa

    cols = []
    for f in arrow_schema:
        if f.name in tbl.column_names:
            cols.append(tbl.column(f.name).cast(f.type))
        else:
            cols.append(pa.nulls(tbl.num_rows, f.type))
    return pa.Table.from_arrays(cols, schema=arrow_schema)


def _merge_slice(base, logs, payload: str, precombine: Optional[str]):
    """writer.merge_latest (+ drop_deleted) for ONE file slice, in PURE
    pyarrow compute (arrow in → arrow out, no pandas round-trip: a dirty
    0.5–1 GB slice used to balloon 2–5× through pandas object boxing; the
    arrow kernel keeps strings/decimals columnar, so peak memory is a
    small multiple of the slice bytes — the r5 verdict's last
    non-vectorized data path).  Only per-key index bookkeeping touches
    numpy (int64 positions, zero-copy).

    Semantics (HoodieMergeHandle.java:280-325 merge loop, via writer.py):
    keys untouched by log rows pass through byte-for-byte (duplicate keys
    included); touched keys collapse to the payload-ordered winner; rows
    whose winner is a delete disappear.  Ordering = merge_order_columns:
    [precombine desc nulls-last (DEFAULT payload only), commit_time desc,
    seqno desc, api_delete desc nulls-last] — arrow's sort_indices is
    stable, matching the pandas kernel's kind="stable".

    OVERWRITE_NON_DEFAULTS (partial update,
    OverwriteNonDefaultsWithLatestAvroPayload.java:50-75): the winner's data
    columns are first-non-null over the merge-ordered LIVE versions — rows
    strictly newer than the newest delete (the delete is a merge barrier,
    writer.merge_latest's _hoodie_del_rn fence).

    Returns a pyarrow Table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    log_keys = pc.unique(logs.column(META_RECORD_KEY))
    base_touched_mask = pc.is_in(base.column(META_RECORD_KEY),
                                 value_set=log_keys)
    untouched = base.filter(pc.invert(base_touched_mask))
    touched = pa.concat_tables([base.filter(base_touched_mask), logs])

    # desc_nulls_last tie-break on the API-delete flag (bool → float, null
    # stays null so null_placement puts it last)
    work = touched.append_column(
        "_del_rank", pc.cast(touched.column(API_DELETE), pa.float64()))
    sort_keys = [(META_RECORD_KEY, "ascending")]
    if (payload == PAYLOAD_DEFAULT and precombine
            and precombine in touched.column_names):
        sort_keys.append((precombine, "descending"))
    sort_keys += [(META_COMMIT_TIME, "descending"),
                  (META_COMMIT_SEQNO, "descending"),
                  ("_del_rank", "descending")]
    srt = work.take(pc.sort_indices(work, sort_keys=sort_keys,
                                    null_placement="at_end"))
    srt = srt.combine_chunks()
    n = srt.num_rows
    if n == 0:
        winners = srt.drop_columns(["_del_rank"])
    else:
        karr = srt.column(META_RECORD_KEY).combine_chunks()
        first = np.ones(n, dtype=bool)
        if n > 1:
            first[1:] = pc.not_equal(
                karr.slice(1), karr.slice(0, n - 1)).to_numpy(
                zero_copy_only=False)
        if payload == PAYLOAD_OVERWRITE_NON_DEFAULTS:
            starts = np.flatnonzero(first)              # per-key group start
            counts = np.diff(np.append(starts, n))
            rn = np.arange(n) - np.repeat(starts, counts)
            is_del = np.zeros(n, dtype=bool)
            for c in DELETE_COLS:
                if c in srt.column_names:
                    is_del |= pc.coalesce(
                        pc.cast(srt.column(c), pa.bool_()),
                        False).to_numpy(zero_copy_only=False)
            # newest delete per key fences older versions out of the fill
            barrier = np.minimum.reduceat(
                np.where(is_del, rn.astype("float64"), np.inf), starts)
            live = rn < np.repeat(barrier, counts)
            pos = np.arange(n)
            winners = srt.filter(pa.array(first)).drop_columns(["_del_rank"])
            wcols, wnames = [], []
            for name in winners.column_names:
                col = winners.column(name)
                if name.startswith("_hoodie"):
                    wcols.append(col)
                    wnames.append(name)
                    continue
                scol = srt.column(name)
                valid = live & scol.is_valid().to_numpy(zero_copy_only=False)
                cand = np.where(valid, pos, n)          # n = "no live value"
                fpos = np.minimum.reduceat(cand, starts)
                have = fpos < n
                vals = scol.take(pa.array(np.where(have, fpos, 0)))
                wcols.append(pc.if_else(pa.array(have), vals,
                                        pa.nulls(len(have), scol.type)))
                wnames.append(name)
            winners = pa.Table.from_arrays(
                [c if isinstance(c, (pa.Array, pa.ChunkedArray))
                 else pa.array(c) for c in wcols],
                schema=pa.schema([winners.schema.field(nm)
                                  for nm in wnames]))
        else:
            winners = srt.filter(pa.array(first)).drop_columns(["_del_rank"])

    out = pa.concat_tables([untouched, winners])
    # drop_deleted (writer.py): winner carrying either delete flag vanishes
    dead = None
    for c in DELETE_COLS:
        if c in out.column_names:
            flag = pc.coalesce(pc.cast(out.column(c), pa.bool_()), False)
            dead = flag if dead is None else pc.or_(dead, flag)
    return out.filter(pc.invert(dead)) if dead is not None else out


def _read_slice(part: SlicePartition, read_schema: StructType,
                payload: str, precombine: Optional[str],
                merge_schema: Optional[StructType] = None) -> Iterator:
    """Yield arrow RecordBatches for one slice, commit-range filtered.

    ``merge_schema``: the full stored schema — dirty slices merge over it
    (the kernel needs key/ordering meta columns and the payload's fill
    columns even when the relation is projected) and project to
    ``read_schema`` afterward; clean slices prune straight to the target."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(read_schema)
    if part.external:
        # METADATA_ONLY-bootstrapped slice: the adopted source file stores no
        # meta columns — derive the virtual skeleton here, mirroring the
        # DataFrame path's scan.bootstrap_skeleton and the reference's
        # skeleton stitch (HoodieBootstrapRDD.scala).  Keygen parity with the
        # engine comes from sharing pyds_write's pandas keygen.
        import pandas as pd
        import pyarrow.compute as pc

        from .pyds_write import _record_key_series
        if part.commit_hi is not None and (
                part.base_instant > part.commit_hi
                or (part.commit_lo is not None
                    and part.base_instant <= part.commit_lo)):
            return  # every row carries the bootstrap instant: window-pruned
        for p in part.base_paths:
            tbl = _read_file(p)
            # adopted files may carry a soft-delete marker (e.g. an export
            # of another CDC/Hudi table): snapshot semantics drop those rows
            # exactly like the clean-slice path below and the DataFrame
            # path's post-union drop_deleted
            if part.drop_deletes and DELETE_MARKER in tbl.column_names:
                keep = pc.invert(pc.coalesce(
                    tbl.column(DELETE_MARKER).cast(pa.bool_()), False))
                tbl = tbl.filter(keep)
            # stay in arrow for the data columns (a full to_pandas would
            # degrade nullable ints to float64 and break the _align cast);
            # only the key FIELDS go through pandas for the shared keygen,
            # arrow-backed so nullable ints stringify as "7", not "7.0"
            kf = list(part.key_fields or ())
            kpdf = tbl.select(kf).to_pandas(types_mapper=pd.ArrowDtype)
            keys = _record_key_series(kpdf, kf)
            n = tbl.num_rows
            tbl = (tbl
                   .append_column(META_RECORD_KEY,
                                  pa.array(keys, pa.string()))
                   .append_column(META_PARTITION_PATH,
                                  pa.array([part.partition] * n, pa.string()))
                   .append_column(META_COMMIT_TIME,
                                  pa.array([part.base_instant] * n,
                                           pa.string()))
                   .append_column(META_COMMIT_SEQNO, pa.array(
                       [f"{part.base_instant}_{part.file_group}_{i}"
                        for i in range(n)], pa.string()))
                   .append_column(META_FILE_NAME,
                                  pa.array([part.file_group] * n,
                                           pa.string())))
            yield from _align(tbl, target).to_batches(max_chunksize=1 << 16)
        return
    if not part.log_paths:
        # clean slice: stream parquet straight through; the commit-range
        # filter prunes row groups via the stored column's min/max stats
        filters = None
        if part.commit_hi is not None:
            filters = [(META_COMMIT_TIME, "<=", part.commit_hi)]
            if part.commit_lo is not None:
                filters.append((META_COMMIT_TIME, ">", part.commit_lo))
        for p in part.base_paths:
            tbl = _read_file(p, filters)
            # snapshot semantics drop soft-deleted winners table-wide when
            # the marker is part of the schema (HudiTable._read_slices' tail);
            # read-optimized serves raw bases and keeps them
            if part.drop_deletes and DELETE_MARKER in tbl.column_names:
                keep = pc.invert(pc.coalesce(
                    tbl.column(DELETE_MARKER).cast(pa.bool_()), False))
                tbl = tbl.filter(keep)
            yield from _align(tbl, target).to_batches(max_chunksize=1 << 16)
        return

    # dirty MOR slice: latest-wins merge over base ∪ deltas
    from pyspark.sql.types import BooleanType, StructField

    dfields = list((merge_schema or read_schema).fields)
    names = {f.name for f in dfields}
    for c in DELETE_COLS:
        if c not in names:
            dfields.append(StructField(c, BooleanType()))
    dschema = to_arrow_schema(StructType(dfields))
    base = pa.concat_tables([_align(_read_file(p), dschema)
                             for p in part.base_paths])
    logs = []
    for p in dict.fromkeys(part.log_paths):   # dedupe shared grouped files
        t = _read_file(p)
        # grouped delta files hold rows of MANY file groups — keep this
        # slice's rows only (HudiTable._scan_logs' (file, group) pair filter;
        # every row carries its group in _hoodie_file_name)
        t = t.filter(pc.equal(t.column(META_FILE_NAME), part.file_group))
        logs.append(_align(t, dschema))
    merged = _merge_slice(base, pa.concat_tables(logs), payload, precombine)
    if part.commit_hi is not None:
        ct = merged.column(META_COMMIT_TIME)
        keep = pc.less_equal(ct, part.commit_hi)
        if part.commit_lo is not None:
            keep = pc.and_(keep, pc.greater(ct, part.commit_lo))
        merged = merged.filter(keep)
    yield from _align(merged, target).to_batches(max_chunksize=1 << 16)


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------
class HudiBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._path = _norm_path(options.get("path"))
        qt = options.get("hoodie.datasource.query.type", "snapshot")
        if qt not in _QUERY_TYPES:
            raise ValueError(f"hudi_py: unknown query type {qt!r}")
        self._query_type = _QUERY_TYPES[qt]
        self._begin = options.get("hoodie.datasource.read.begin.instanttime")
        self._end = options.get("hoodie.datasource.read.end.instanttime")
        self._as_of = options.get("as.of.instant")   # TimeTravelQuery
        parts = options.get("hoodie.datasource.read.partitions")
        self._partitions = ([p.strip() for p in parts.split(",") if p.strip()]
                            if parts else None)
        # INCR_PATH_GLOB (DataSourceOptions.scala:87-99) — incremental
        # only, and rejected otherwise (parity with table.read(path_glob=)):
        # silently returning an UNfiltered snapshot to a user who set a
        # glob would be worse than an error
        self._path_glob = options.get(
            "hoodie.datasource.read.incr.path.glob")
        if self._path_glob and self._query_type != QUERY_INCREMENTAL:
            raise ValueError(
                "hudi_py: hoodie.datasource.read.incr.path.glob applies to "
                "incremental queries only (INCR_PATH_GLOB); use "
                "hoodie.datasource.read.partitions to restrict snapshots")
        meta = _meta(options)
        self._payload = meta.config.payload
        self._precombine = meta.config.precombine_field
        self._merge_schema = _stored_schema(meta)

    def partitions(self) -> Sequence[InputPartition]:
        meta = TableMetaClient(self._path)
        planned = _plan_slices(meta, self._query_type, self._begin, self._end,
                               self._partitions, as_of=self._as_of,
                               path_glob=self._path_glob)
        # zero-slice plans (empty incremental window) still need one task
        return planned or [SlicePartition(file_group="", partition="")]

    def read(self, partition: SlicePartition) -> Iterator:
        if not partition.base_paths:
            return iter(())
        return _read_slice(partition, self._schema, self._payload,
                           self._precombine, self._merge_schema)


class HudiBatchReaderPushdown(HudiBatchReader):
    """Filter-pushdown-capable variant — opt-in because Spark REJECTS a
    reader that implements ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false (its default).
    Select with ``.option("hoodie.spark.python.filter.pushdown", "true")``
    after enabling the conf."""

    def pushFilters(self, filters: list[Filter]):
        """Partition pruning: EqualTo/In on _hoodie_partition_path narrows
        the slice plan (the DataFrame path gets this via partition args);
        everything else is Spark's to evaluate post-scan."""
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col == META_PARTITION_PATH and isinstance(f, (EqualTo, In)):
                vals = ([f.value] if isinstance(f, EqualTo) else list(f.values))
                sel = {str(v) for v in vals}
                self._partitions = (sorted(sel) if self._partitions is None
                                    else sorted(set(self._partitions) & sel))
                # still yield it: we prune FILES by it, but rows inside a
                # kept slice are not re-checked — Spark must keep the filter
            yield f


# ---------------------------------------------------------------------------
# streaming reader (HoodieStreamSource.scala:49-144)
# ---------------------------------------------------------------------------
class HudiStreamSourceReader(DataSourceStreamReader):
    """Offsets are commit instant times (HoodieSourceOffset); each batch is
    the incremental query (start, end] planned as one task per touched file
    slice.  Exactly-once comes from Spark's offset log: a replayed batch
    re-plans the identical instant window from the immutable timeline."""

    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._path = _norm_path(options.get("path"))
        meta = _meta(options)
        self._payload = meta.config.payload
        self._precombine = meta.config.precombine_field
        self._merge_schema = _stored_schema(meta)
        start = options.get("hoodie.datasource.read.begin.instanttime")
        if start in (None, "earliest"):
            start = ""
        self._start = start

    def initialOffset(self) -> dict:
        return {"commit": self._start}

    def latestOffset(self) -> dict:
        meta = TableMetaClient(self._path)
        last = meta.timeline.last_completed(tl.DATA_ACTIONS)
        return {"commit": last.time if last else self._start}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start.get("commit", ""), end.get("commit", "")
        if hi <= lo:
            return [SlicePartition(file_group="", partition="")]
        meta = TableMetaClient(self._path)
        planned = _plan_slices(meta, QUERY_INCREMENTAL, lo or None, hi, None)
        return planned or [SlicePartition(file_group="", partition="")]

    def read(self, partition: SlicePartition) -> Iterator:
        if not partition.base_paths:
            return iter(())
        return _read_slice(partition, self._schema, self._payload,
                           self._precombine, self._merge_schema)

    def commit(self, end: dict) -> None:
        pass  # the Spark offset log is the source of truth

    def stop(self) -> None:
        pass


class HudiPyDataSource(DataSource):
    """format("hudi_py") — register once per session via ``register()``."""

    @classmethod
    def name(cls) -> str:
        return "hudi_py"

    def schema(self) -> StructType:
        """Latest stored schema; ``hoodie.datasource.read.columns`` (comma
        list) narrows the relation — the Python DataSource API has no
        column-pruning pushdown, so explicit projection is the way to keep a
        wide-table scan from materializing every column through Arrow."""
        s = _stored_schema(_meta(self.options))
        cols = self.options.get("hoodie.datasource.read.columns")
        if not cols:
            return s
        want = [c.strip() for c in cols.split(",") if c.strip()]
        missing = [c for c in want if c not in s.names]
        if missing:
            raise ValueError(f"hudi_py: unknown columns {missing}")
        keep = set(want)
        return StructType([f for f in s.fields if f.name in keep])

    def reader(self, schema: StructType) -> HudiBatchReader:
        push = str(self.options.get(
            "hoodie.spark.python.filter.pushdown", "false")).lower() == "true"
        cls = HudiBatchReaderPushdown if push else HudiBatchReader
        return cls(schema, self.options)

    def streamReader(self, schema: StructType) -> HudiStreamSourceReader:
        return HudiStreamSourceReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        """Bulk-load write side (pyds_write.py): mode("append") =
        bulk_insert, mode("overwrite") = insert_overwrite_table; first write
        auto-creates the table from hoodie.* options.  Index-tagging
        operations (upsert/delete) stay on datasource.write_hudi."""
        from .pyds_write import HudiBulkWriter
        return HudiBulkWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        """Streaming sink (pyds_write.py): per-micro-batch bulk appends with
        the batch id stamped atomically into commit metadata — exactly-once
        replay protection sharing streaming/sink.py's stamp keys.  Upsert
        streams stay on writeStream.foreachBatch(HudiStreamingSink)."""
        from .pyds_write import HudiStreamBulkWriter
        return HudiStreamBulkWriter(schema, self.options, overwrite)


def register(spark) -> None:
    """Idempotent ``spark.dataSource.register`` of the hudi_py format."""
    spark.dataSource.register(HudiPyDataSource)
