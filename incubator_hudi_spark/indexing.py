"""Index operators: key → file-group lookup, as DataFrame joins.

Reference parity (hudi-client/.../index/):
  - SIMPLE / GLOBAL_SIMPLE (SparkHoodieSimpleIndex.java:91-143): read
    (key, partition, fileId) from latest base files of affected partitions,
    left-join the incoming batch.  This is our default.
  - BLOOM / GLOBAL_BLOOM (SparkHoodieBloomIndex.java:70-140): the reference
    prunes candidate files with per-file min/max key ranges + bloom filters
    from parquet footers before verifying against actual keys.  PySpark can't
    read footer blooms, so our commit manifest stores per-file min/max record
    keys (fsview.base_key_range) and we prune the *file list* before the key
    scan (fsview.may_hold_keys) — same correctness (pruning is only an
    accelerator), one fewer pass.

Scale notes: the key scan is column-pruned to the 3 meta columns (parquet
columnar → reads ~nothing else), restricted to partitions present in the
incoming batch (non-global), and further restricted by key-range overlap
(BLOOM).  The join shuffles only (incoming ∪ candidate-keys), never the table.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .config import (INDEX_BLOOM, INDEX_GLOBAL_BLOOM, INDEX_GLOBAL_SIMPLE,
                     INDEX_SIMPLE, META_FILE_NAME, META_PARTITION_PATH,
                     META_RECORD_KEY)
from .fsview import FileSystemView, may_hold_keys
from .keygen import sql_ident
from .scan import bootstrap_skeleton, scan_parquet
from .metaclient import TableMetaClient

FG_COL = "_hoodie_index_fg"
CUR_PART_COL = "_hoodie_index_partition"

_KEY_SCAN_SCHEMA = StructType([
    StructField(META_RECORD_KEY, StringType()),
    StructField(META_PARTITION_PATH, StringType()),
    StructField(META_FILE_NAME, StringType()),
])


def is_global(index_type: str) -> bool:
    return index_type in (INDEX_GLOBAL_SIMPLE, INDEX_GLOBAL_BLOOM)


def _candidate_slices(view: FileSystemView, index_type: str,
                      partitions: Optional[list[str]],
                      key_range: Optional[tuple[str, str]]):
    parts = None if is_global(index_type) else partitions
    slices = view.latest_slices(parts)
    if index_type in (INDEX_BLOOM, INDEX_GLOBAL_BLOOM) and key_range is not None:
        slices = [sl for sl in slices if may_hold_keys(sl, *key_range)]
    return slices


def load_key_index(spark: SparkSession, meta: TableMetaClient, view: FileSystemView,
                   index_type: str = INDEX_SIMPLE,
                   partitions: Optional[list[str]] = None,
                   key_range: Optional[tuple[str, str]] = None,
                   tc=None, only_fgs: Optional[set] = None) -> DataFrame:
    """DataFrame(key, partition, fg) of all live records in candidate
    slices: ``_hoodie_record_key``, ``_hoodie_partition_path`` (where the
    record is stored) and ``FG_COL``.

    MOR: records first inserted into log files don't exist in base files; we
    also scan the key columns of log (delta parquet) files so tagging sees
    them (the reference achieves this via HoodieMergedLogRecordScanner).
    Deleted keys resolve via latest-wins on the delete marker downstream —
    for tagging purposes a delete row still maps the key to its file group.

    METADATA_ONLY-bootstrapped (external) base files carry no meta columns;
    their keys are derived with the keygen expressions (``tc`` required when
    such files exist) — still a column-pruned scan of just the key fields.
    """
    slices = _candidate_slices(view, index_type, partitions, key_range)
    if only_fgs is not None:
        # caller proved (bloom second stage) batch keys live only here
        slices = [sl for sl in slices if sl.file_group in only_fgs]
    base_paths, log_paths = [], []
    ext: list[tuple[str, str, str]] = []   # (abs path, fg, bootstrap instant)
    for sl in slices:
        for f in sl.base_files:
            if f.external:
                ext.append((meta.abs_path(f.path), sl.file_group,
                            sl.base_instant))
            else:
                base_paths.append(meta.abs_path(f.path))
        log_paths.extend(meta.abs_path(l.path) for l in sl.log_files)
    base_fmt = getattr(tc, "base_format", "parquet") if tc else "parquet"
    dfs = []
    if base_fmt == "parquet":
        paths = base_paths + log_paths   # one combined scan (both parquet)
        if paths:
            dfs.append(scan_parquet(spark, paths, _KEY_SCAN_SCHEMA)
                       .select(META_RECORD_KEY, META_PARTITION_PATH,
                               META_FILE_NAME))
    else:
        # ORC bases + parquet delta files can't share a scan
        for plist, f in ((base_paths, base_fmt), (log_paths, "parquet")):
            if plist:
                dfs.append(scan_parquet(spark, plist, _KEY_SCAN_SCHEMA, fmt=f)
                           .select(META_RECORD_KEY, META_PARTITION_PATH,
                                   META_FILE_NAME))
    if ext:
        if tc is None:
            raise ValueError("external base files need the table config for "
                             "key derivation")
        skel = bootstrap_skeleton(ext, tc)
        src = scan_parquet(spark, [p for p, _, _ in ext])
        dfs.append(src.select(*[skel[c].alias(c) for c in
                                (META_RECORD_KEY, META_PARTITION_PATH,
                                 META_FILE_NAME)]))
    if not dfs:
        dfs = [spark.createDataFrame([], _KEY_SCAN_SCHEMA)]
    df = dfs[0]
    for x in dfs[1:]:
        df = df.unionByName(x)
    # NOTE: a key may map to the same file group several times (MOR base+log,
    # or duplicate keys within one file).  We deliberately do NOT dedup here —
    # that would shuffle the table-sized key scan on every upsert.  Duplicate
    # tagged rows are benign: the per-file-group latest-wins merge collapses
    # them deterministically (the reference's SIMPLE index likewise emits one
    # row per stored location, SparkHoodieSimpleIndex.java:112).  The pinned
    # key index (table._load_index) pays that shuffle once, when pinned.
    return df.withColumnRenamed(META_FILE_NAME, FG_COL)


def tag_locations(incoming: DataFrame, index_df: DataFrame, index_type: str,
                  key_col: str = META_RECORD_KEY,
                  partition_col: str = META_PARTITION_PATH,
                  broadcast_incoming: bool = False,
                  update_partition_path: bool = False,
                  index_unique: bool = False) -> DataFrame:
    """Attach (fg, current partition) to incoming rows; null fg → insert.

    Non-global: key unique within partition → join on (key, partition).
    Global: key unique table-wide → join on key only; an update whose
    incoming partition differs is routed to its *existing* partition
    (update-partition-path=false default, SparkHoodieGlobalBloomIndex.java:143).
    With ``update_partition_path`` the record MOVES instead: the row splits
    into a delete tagged to the old location plus an untagged insert in the
    incoming partition (the reference emits the same delete+insert pair).

    ``broadcast_incoming`` (batch ≪ table, the common upsert shape): never
    build a hash table from the big index side — broadcast the batch's key set
    to semi-join-prune the streamed index scan down to the matched locations
    (≤ batch size), then broadcast those back onto the batch.  At cluster
    scale this is the only plan that works: the key scan is table-sized and
    must stream; the reference gets the same effect from its bucketized bloom
    check (BucketizedBloomCheckPartitioner.java).

    ``index_unique``: ``index_df`` holds each (key, partition, file group)
    once (the pinned key index is deduplicated when it is pinned), so the
    pruned side needs no per-batch dedup shuffle.
    """
    on = [key_col] if is_global(index_type) else [key_col, partition_col]
    # global tagging keeps the stored partition apart from the incoming one
    stored = CUR_PART_COL if is_global(index_type) else partition_col
    idx = (index_df if stored == META_PARTITION_PATH
           else index_df.withColumnRenamed(META_PARTITION_PATH, stored))
    if broadcast_incoming:
        probe = incoming.selectExpr(*map(sql_ident, on)).dropDuplicates(on)
        idx = idx.join(F.broadcast(probe), on=on, how="left_semi")
        if not index_unique:
            # collapse multi-row locations (MOR base+log, duplicate keys
            # within one file) on the pruned ≤batch-sized side so the
            # tagging join can only multiply per distinct file group —
            # callers then need no batch-wide dedup shuffle
            idx = idx.dropDuplicates()
        idx = F.broadcast(idx)
    tagged = incoming.join(idx, on=on, how="left")
    if is_global(index_type):
        if update_partition_path:
            from .writer import API_DELETE
            is_del = (F.coalesce(F.col(API_DELETE), F.lit(False))
                      if API_DELETE in tagged.columns else F.lit(False))
            moving = (F.col(CUR_PART_COL).isNotNull()
                      & (F.col(CUR_PART_COL) != F.col(partition_col))
                      & ~is_del)
            rest = (tagged.filter(~moving)
                    .withColumn(partition_col,
                                F.coalesce(F.col(CUR_PART_COL),
                                           F.col(partition_col)))
                    .drop(CUR_PART_COL))
            moved = tagged.filter(moving)
            # insert half: incoming partition, no location tag
            mv_ins = (moved.withColumn(FG_COL, F.lit(None).cast("string"))
                           .drop(CUR_PART_COL))
            # delete half: old location, marked as a hard delete
            mv_del = (moved.withColumn(partition_col, F.col(CUR_PART_COL))
                           .withColumn(API_DELETE, F.lit(True))
                           .drop(CUR_PART_COL))
            if API_DELETE not in rest.columns:
                rest = rest.withColumn(API_DELETE, F.lit(False))
                mv_ins = mv_ins.withColumn(API_DELETE, F.lit(False))
            return rest.unionByName(mv_ins).unionByName(mv_del)
        part = (f"coalesce({sql_ident(CUR_PART_COL)}, "
                f"{sql_ident(partition_col)}) AS {sql_ident(partition_col)}")
        tagged = tagged.selectExpr(*[part if c == partition_col
                                     else sql_ident(c) for c in tagged.columns
                                     if c != CUR_PART_COL])
    return tagged
