"""Write-pipeline building blocks shared by every write operator.

Replaces the reference's record-at-a-time I/O handles wholesale
(HoodieCreateHandle / HoodieMergeHandle.java:280-325 merge loop /
HoodieAppendHandle.java:336-390) with declarative DataFrame stages:

    incoming df
      → meta columns (pure expressions; HoodieRecord.java:37-45)
      → preCombine window dedup (SparkWriteHelper.java:49-67)
      → index tag join (indexing.py)
      → bucket assignment (plans/buckets.py)
      → repartition(#buckets, _fg) → write.partitionBy(_fg).parquet(<instant dir>)

Every file lands in an immutable per-instant directory; the commit manifest
(WriteStat list) is assembled driver-side from parquet footers (row counts +
record-key min/max — the same stats the reference persists as footer bloom
ranges, SparkHoodieBloomIndex.java:119-140).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Optional, Sequence
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .config import (DELETE_MARKER, META_COLUMNS, META_COMMIT_SEQNO,
                     META_COMMIT_TIME, META_FILE_NAME, META_PARTITION_PATH,
                     META_RECORD_KEY, PAYLOAD_DEFAULT,
                     PAYLOAD_OVERWRITE_NON_DEFAULTS, TableConfig, WriteConfig)
from .fsview import WriteStat
from .keygen import (partition_path_sql, record_key_sql, sql_ident,
                     sql_str)
from .metaclient import TableMetaClient

FG = "_fg"                       # transient bucket column, becomes the dir name
API_DELETE = "_hoodie_api_delete"  # hard delete (EmptyPayload semantics)

def local_write_options(path: str, hadoop_conf) -> dict:
    """Per-write options for engine writes to LOCAL storage: no Hadoop
    client-side .crc sidecars and no _SUCCESS markers.  The checksummed
    LocalFileSystem writes a hidden .<name>.crc next to EVERY output file and
    a _SUCCESS/._SUCCESS.crc pair per job, doubling the small-file churn of
    every write lane, while parquet pages already carry their own CRCs
    (parquet.page.write-checksum.enabled defaults to true).  The options
    ride the write job's Hadoop conf (per-write .options()), so the session
    configuration and cached FileSystem instances are untouched.

    The path's scheme is resolved like Hadoop does: a scheme-less path takes
    ``fs.defaultFS`` from ``hadoop_conf`` (anything with a ``get(key)``, e.g.
    the session's ``_jsc.hadoopConfiguration()``), and only ``file`` gets the
    options — hdfs://, s3a://, ... keep their own integrity machinery and
    their _SUCCESS markers.  Resolving reads the conf only; it never
    contacts a file system."""
    scheme = urlparse(path).scheme or urlparse(
        hadoop_conf.get("fs.defaultFS") or "file:///").scheme
    if scheme != "file":
        return {}
    return {"fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
            "fs.file.impl.disable.cache": "true",
            "mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}


def _key_sql(tc: TableConfig) -> dict[str, str]:
    return {META_RECORD_KEY: record_key_sql(tc.recordkey_fields),
            META_PARTITION_PATH: partition_path_sql(tc.partition_expr)}


def with_key_columns(df: DataFrame, tc: TableConfig) -> DataFrame:
    """``df`` plus the record key and partition path, as one projection
    (``withColumn`` semantics: an input that already carries a key column
    has it replaced in place, otherwise the keys are appended)."""
    keys = _key_sql(tc)
    cols = df.columns
    return df.selectExpr(*[f"{keys.get(c, sql_ident(c))} AS {sql_ident(c)}"
                           for c in cols],
                         *[f"{e} AS {sql_ident(c)}" for c, e in keys.items()
                           if c not in cols])


MERGE_KEY = [META_RECORD_KEY, META_PARTITION_PATH]
# Record identity is the HoodieKey = (recordKey, partitionPath)
# (HoodieKey.java:30-57); for non-global indexes the same recordKey may exist
# in two partitions as two distinct records (SparkWriteHelper.java:49-67 keys
# dedup by HoodieKey unless the index is global).  Global-index tagging
# rewrites the incoming partition to the record's current one *before* any
# merge, so (key, partition) windows are correct for both modes.

_WIN = "_hoodie_win"


def _tie_columns(df: DataFrame, tc: TableConfig) -> list[str]:
    """preCombine tie-break columns, shared by ``precombine_dedup`` and
    ``precombine_dedup_in_bucket`` so both pick the same survivor: every
    orderable data column (maps cannot be compared), alphabetical."""
    return sorted(f.name for f in df.schema.fields
                  if not f.name.startswith("_hoodie")
                  and f.name != tc.precombine_field
                  and f.dataType.typeName() != "map")


def _precombine(keyed: DataFrame, tc: TableConfig, keys: Sequence[str],
                tie_cols: Sequence[str]) -> tuple[DataFrame, dict[str, str]]:
    """``precombine_dedup``'s aggregate: the deduplicated frame and, per
    column of ``keyed``, the SQL expression that reads it there (so callers
    fuse the unpacking into their own projection)."""
    cols = keyed.columns
    if tc.precombine_field not in cols:
        return keyed.dropDuplicates(keys), {c: sql_ident(c) for c in cols}
    payload = ", ".join(sql_ident(c) for c in cols if c not in keys)
    order = ", ".join(sql_ident(c) for c in [tc.precombine_field, *tie_cols])
    win = keyed.groupBy(*keys).agg(F.expr(
        f"max_by(struct({payload}), struct({order})) AS {_WIN}"))
    return win, {c: sql_ident(c) if c in keys else f"{_WIN}.{sql_ident(c)}"
                 for c in cols}


def precombine_dedup(df: DataFrame, tc: TableConfig,
                     global_index: bool = False) -> DataFrame:
    """Within-batch dedup: exactly one survivor per HoodieKey, max precombine
    wins (SparkWriteHelper.java:49-67 reduceByKey(preCombine)).  Global
    indexes dedup by record key alone (a key is table-unique there).

    Deterministic tie-break: equal precombine values fall back to every data
    column (alphabetical, desc, nulls last) so the survivor is a pure
    function of the data — reproducible across engines/runs (the reference's
    reduceByKey keeps an arbitrary twin instead).

    Physical plan: ``max_by(payload_struct, ordering_struct)`` hash aggregate
    — like the reference's reduceByKey this gets map-side partial combine and
    avoids the full sort a row_number window would pay.  Struct comparison is
    lexicographic with nulls smallest, which is exactly multi-column
    DESC NULLS LAST when taking the max.
    """
    keys = [META_RECORD_KEY] if global_index else MERGE_KEY
    out, ref = _precombine(df, tc, keys, _tie_columns(df, tc))
    return out.selectExpr(*[f"{ref[c]} AS {sql_ident(c)}" for c in df.columns])


def prepare_batch(df: DataFrame, tc: TableConfig, instant_time: str,
                  combine: bool, global_index: bool = False) -> DataFrame:
    """The write-ready batch: meta columns first (HoodieRecord.java:37-45
    layout), then the data columns in input order.  Record key and
    partition path come from the keygen; ``_hoodie_commit_time`` and
    ``_hoodie_commit_seqno`` (instant + monotonic id: cheap, unique, no
    shuffle) are stamped for this instant; an input
    ``_hoodie_file_name`` rides along.  ``combine`` runs ``precombine_dedup``
    between a keyed projection and the meta-first one; without it the batch
    is a single projection.  Every step is one transformation over SQL
    expression strings, so building the plan costs a few py4j calls."""
    cols = df.columns
    ref = {c: sql_ident(c) for c in cols}
    ref.update(_key_sql(tc))
    src = df
    if combine:
        src = with_key_columns(df, tc)
        keys = [META_RECORD_KEY] if global_index else MERGE_KEY
        src, ref = _precombine(src, tc, keys, _tie_columns(df, tc))
    ref[META_COMMIT_TIME] = sql_str(instant_time)
    ref[META_COMMIT_SEQNO] = (f"concat_ws('_', {sql_str(instant_time)}, "
                              "CAST(monotonically_increasing_id() AS STRING))")
    order = [c for c in META_COLUMNS if c in ref]
    order += [c for c in cols if c not in META_COLUMNS]
    return src.selectExpr(*[f"{ref[c]} AS {sql_ident(c)}" for c in order])


def precombine_dedup_in_bucket(df: DataFrame, tc: TableConfig,
                               bucket_col: str) -> DataFrame:
    """preCombine fused into the write shuffle: same survivor as
    ``precombine_dedup`` (max precombine, deterministic full-row tie-break)
    but expressed as a row_number window partitioned by
    ``(bucket, HoodieKey)`` — an upstream ``repartition(n, bucket)`` already
    satisfies the window's required distribution, so dedup costs ZERO extra
    exchanges on top of the write clustering.  Valid only for non-global
    keys (twins share (key, partition) ⇒ the same bucket); bucket assignment
    hashes the record key, so cross-bucket twins cannot exist."""
    if not (tc.precombine_field and tc.precombine_field in df.columns):
        return df.dropDuplicates([bucket_col] + MERGE_KEY)
    order = [F.desc_nulls_last(tc.precombine_field)]
    order += [F.desc_nulls_last(c) for c in _tie_columns(df, tc)]
    w = Window.partitionBy(bucket_col, *MERGE_KEY).orderBy(*order)
    return (df.withColumn("_hoodie_rn", F.row_number().over(w))
              .filter(F.col("_hoodie_rn") == 1).drop("_hoodie_rn"))


def merge_order_columns(tc: TableConfig, df: DataFrame) -> list[Column]:
    """Cross-version ordering for latest-wins merges.

    - API deletes always win (EmptyPayload, SparkDeleteHelper.java:49-105).
    - DEFAULT payload: precombine (event-time) guard first
      (DefaultHoodieRecordPayload.java:41,93) — a stored row with a higher
      ordering value survives a late-arriving update.
    - OVERWRITE_LATEST: the newest commit wins (OverwriteWithLatestAvroPayload
      .java:50-57); in-batch dups were already preCombined.
    """
    cols: list[Column] = []
    if tc.payload == PAYLOAD_DEFAULT and tc.precombine_field and \
            tc.precombine_field in df.columns:
        cols.append(F.desc_nulls_last(tc.precombine_field))
    cols.append(F.desc(META_COMMIT_TIME))
    cols.append(F.desc(META_COMMIT_SEQNO))
    if API_DELETE in df.columns:
        # tie-break only: a delete wins against a data row of the SAME
        # version rank (combine_before_upsert=False batches), but an OLD
        # delete row sitting in a MOR log must lose to a newer re-insert —
        # ranking deletes first regardless of commit time made a
        # delete→re-insert key vanish from merged reads until compaction
        cols.append(F.desc_nulls_last(API_DELETE))
    return cols


NEW_FLAG = "_hoodie_is_new_version"


def merge_latest(df: DataFrame, tc: TableConfig, flag_col: str = NEW_FLAG,
                 bucket_col: Optional[str] = None) -> DataFrame:
    """The read/write merge kernel — replaces HoodieMergeHandle.java:280-325
    and HoodieMergedLogRecordScanner.processNextRecord.

    ``flag_col`` marks rows carrying *new* versions (the incoming batch on
    write; log-file rows on MOR read).  Semantics, matching the reference's
    merge loop: stored rows whose key is untouched by new versions pass
    through byte-for-byte (duplicate keys from insert/bulk_insert included);
    touched keys collapse to the single payload-resolved winner.

    One window shuffle keyed by HoodieKey (key, partition); both the
    pass-through flag and the winner rank come from the same shuffle, and only
    the slices being merged ever enter it — never the whole table.

    ``bucket_col`` (the file-group column, write path) scopes the merge to one
    file group — the reference merges per MergeHandle, i.e. per file group
    too.  Crucially it makes the window's required distribution
    ClusteredDistribution(bucket, key, partition), which an upstream
    ``repartition(n, bucket)`` already satisfies — so the merge and the
    one-file-per-group write share a single shuffle."""
    keys = ([bucket_col] if bucket_col else []) + MERGE_KEY
    order_w = Window.partitionBy(*keys).orderBy(*merge_order_columns(tc, df))
    part_w = Window.partitionBy(*keys)
    staged = (df
              .withColumn("_hoodie_has_new",
                          F.max(F.col(flag_col).cast("int")).over(part_w))
              .withColumn("_hoodie_rn", F.row_number().over(order_w)))
    if tc.payload == PAYLOAD_OVERWRITE_NON_DEFAULTS:
        # partial update (OverwriteNonDefaultsWithLatestAvroPayload.java:
        # 50-75): a null field in a newer version keeps the newest stored
        # non-null value.  first(ignorenulls) over the full merge-ordered
        # frame == iterated pairwise field coalescing newest→oldest; all
        # per-column aggregates share the single window pass already paid
        # for the rank.  Only merged keys (has_new=1) are touched —
        # pass-through stored rows stay byte-for-byte (the reference never
        # runs combineAndGetUpdateValue on untouched keys).
        # A delete is a MERGE BARRIER: versions at or below the newest
        # delete are dead state (the reference's pairwise fold empties the
        # record there), so fills may only draw from rows strictly newer
        # than it — otherwise a MOR read would resurrect pre-delete values
        # that a compacted/COW table has already forgotten.
        fill_w = order_w.rowsBetween(Window.unboundedPreceding,
                                     Window.unboundedFollowing)
        is_del = F.lit(False)
        for c in (DELETE_MARKER, API_DELETE):
            if c in df.columns:
                is_del = is_del | F.coalesce(F.col(c), F.lit(False))
        staged = staged.withColumn(
            "_hoodie_del_rn",
            F.min(F.when(is_del, F.col("_hoodie_rn"))).over(part_w))
        live = F.col("_hoodie_rn") < F.coalesce(F.col("_hoodie_del_rn"),
                                                F.lit(1 << 31))
        data_cols = [c for c in df.columns
                     if not c.startswith("_hoodie") and c != flag_col]
        staged = staged.select(
            *[c for c in staged.columns if c not in data_cols],
            *[F.when(F.col("_hoodie_has_new") == 1,
                     F.first(F.when(live, F.col(c)),
                             ignorenulls=True).over(fill_w))
              .otherwise(F.col(c)).alias(c) for c in data_cols])
        staged = staged.drop("_hoodie_del_rn")
    out = (staged
           .filter((F.col("_hoodie_has_new") == 0) | (F.col("_hoodie_rn") == 1))
           .drop("_hoodie_has_new", "_hoodie_rn", flag_col))
    return out


def live_sql(columns: Sequence[str]) -> str:
    """SQL predicate over a frame with ``columns``: the row is not a delete
    (OverwriteWithLatestAvroPayload.java:81-84 delete marker + API
    deletes)."""
    return " AND ".join([f"NOT coalesce({sql_ident(c)}, false)"
                         for c in (DELETE_MARKER, API_DELETE)
                         if c in columns] or ["true"])


def drop_deleted(df: DataFrame) -> DataFrame:
    """Filter records whose winning version is a delete, in one filter."""
    cols = df.columns
    if DELETE_MARKER not in cols and API_DELETE not in cols:
        return df
    return df.filter(live_sql(cols))


# ---------------------------------------------------------------------------
# physical write + manifest stats
# ---------------------------------------------------------------------------

def write_grouped_log_files(
    df: DataFrame,
    meta: TableMetaClient,
    instant_time: str,
    fg_to_partition: dict[str, str],
    fg_base_instant: dict[str, str],
    compression: str = "snappy",
) -> list[WriteStat]:
    """MOR delta append, grouped: the batch writes a few AQE-sized shared
    delta files instead of one tiny file per touched file group.

    The reference appends avro blocks to ONE rolling log per group
    (HoodieAppendHandle.java:71,336-390) so a small commit never mints a
    file per group; parquet can't append, so the engine gets the same
    bounded-small-file property by sharing: rows already carry their file
    group in ``_hoodie_file_name``, the shuffle hashes by group (keeping a
    group's rows together for row-group locality) and AQE coalesces the tiny
    batch into ~advisory-sized tasks — one output file each.  A post-write
    scan of the (small, just-written) files records EXACT per-(group, file)
    membership in the manifest, so subset reads (compaction of a few groups,
    partition-pruned scans) open only files that contain their groups, and
    the cleaner refcounts shared paths before deleting.
    """
    out_dir = os.path.join(meta.instant_data_dir(instant_time), "log")
    out = (df.drop(FG)
             .repartition(F.col(META_FILE_NAME))   # AQE coalesces small batches
             .sortWithinPartitions(META_FILE_NAME, META_RECORD_KEY))
    (out.write.option("compression", compression)
        .options(**local_write_options(
            out_dir, df.sparkSession._jsc.hadoopConfiguration()))
        .mode("append").parquet(out_dir))
    if not os.path.isdir(out_dir):             # empty batch wrote nothing
        return []
    files = [os.path.join(out_dir, fn) for fn in sorted(os.listdir(out_dir))
             if fn.endswith(".parquet")]
    if not files:
        return []
    sizes = {p: os.path.getsize(p) for p in files}
    # exact (file, group) membership + per-group row counts — one narrow
    # pass over the single freshly-written column.  Small delta sets
    # (the common steady-state batch) are counted driver-side via Arrow
    # (no job launch); big ones via a column-pruned Spark scan.
    pairs: list[tuple[str, str, int]] = []   # (abs_path, fg, rows)
    if sum(sizes.values()) <= 64 * 1024 * 1024:
        import pyarrow.parquet as pq
        for p in files:
            col = pq.read_table(p, columns=[META_FILE_NAME])[0]
            vc = col.value_counts()
            for item in vc:
                pairs.append((p, item["values"].as_py(),
                              item["counts"].as_py()))
    else:
        spark = df.sparkSession
        rows = (spark.read.parquet(*files)
                .groupBy(F.input_file_name().alias("_f"),
                         F.col(META_FILE_NAME).alias("_fg"))
                .count().collect())
        import re as _re
        pairs = [(_re.sub("^file:/*", "/", r["_f"]), r["_fg"], r["count"])
                 for r in rows]
    total_rows: dict[str, int] = {}
    for p, _, n in pairs:
        total_rows[p] = total_rows.get(p, 0) + n
    stats = []
    for p, fg, n in pairs:
        share = n / max(1, total_rows[p])
        stats.append(WriteStat(
            partition=fg_to_partition.get(fg, ""), file_group=fg,
            path=meta.rel_path(p),
            size=int(sizes.get(p, 0) * share),       # apportioned
            num_records=n, log=True,
            base_instant=fg_base_instant.get(fg)))
    return stats


def write_instant_files(
    df: DataFrame,
    meta: TableMetaClient,
    instant_time: str,
    fg_to_partition: dict[str, str],
    cfg: WriteConfig,
    sort_cols: Optional[Sequence[str]] = None,
    pre_partitioned: bool = False,
    ensure_fgs: Optional[set[str]] = None,
) -> list[WriteStat]:
    """Shuffle to one task per file group and write the instant directory.

    ``df`` must carry the transient ``_fg`` column.  Returns the manifest.
    ``pre_partitioned``: caller already clustered the frame by ``_fg`` (e.g.
    the upsert merge window) — skip the extra exchange.
    ``ensure_fgs``: file groups that MUST get a new version this instant even
    if their merge output is empty (a delete that empties a file group, a
    compaction whose rows are all tombstoned).  partitionBy writes nothing
    for an empty group, and a group with no new version would silently fall
    back to its previous (undeleted) version at read time — so an explicit
    empty base file is materialized for each missing group.
    """
    if pre_partitioned:
        out = df
        if sort_cols:
            out = out.sortWithinPartitions(
                *[F.expr(sql_ident(c)) for c in sort_cols])
    else:
        # cluster by file group into at most #cores tasks: a task may carry
        # several small file groups (dynamic partitioning still emits one
        # file per group), which beats one-task-per-group when groups are
        # far below the 120 MB target — fewer tasks, same file layout.  At
        # scale each group approaches target size and the cap is a no-op.
        par = df.sparkSession.sparkContext.defaultParallelism
        n_buckets = max(1, min(len(fg_to_partition),
                               cfg.write_parallelism or par))
        out = df.repartition(n_buckets, FG)
        # FG-first sort satisfies the dynamic-partition writer's required
        # ordering, so FileFormatWriter skips its own per-task sort
        out = out.sortWithinPartitions(
            *[F.expr(sql_ident(c)) for c in [FG, *(sort_cols or [])]])
    out_dir = meta.instant_data_dir(instant_time)
    # base files honor the table's base format (HoodieFileFormat.java)
    fmt = getattr(meta.config, "base_format", "parquet")
    codec = cfg.parquet_compression
    if fmt == "orc":
        # parquet codec names are the config surface; translate to ORC's
        # (gzip's ORC spelling is zlib; unknown names fail loudly here
        # instead of mid-job inside the DataFrameWriter)
        orc_codecs = {"gzip": "zlib", "zlib": "zlib", "snappy": "snappy",
                      "zstd": "zstd", "lz4": "lz4", "none": "none",
                      "uncompressed": "none"}
        codec = orc_codecs.get(str(codec).lower())
        if codec is None:
            raise ValueError(
                f"compression {cfg.parquet_compression!r} has no ORC "
                "equivalent (use gzip/zlib, snappy, zstd, lz4, none)")
    w = (out.write
         .option("compression", codec)
         .options(**local_write_options(
             out_dir, df.sparkSession._jsc.hadoopConfiguration()))
         .partitionBy(FG)
         .mode("append"))    # dir is unique per instant; append avoids pre-listing
    w.orc(out_dir) if fmt == "orc" else w.parquet(out_dir)
    if ensure_fgs:
        written = {d.split("=", 1)[1] for d in os.listdir(out_dir)
                   if d.startswith(f"{FG}=")}
        missing = set(ensure_fgs) - written
        if missing:
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType
            data_schema = StructType(
                [f for f in df.schema.fields if f.name != FG])
            empty = pa.Table.from_pylist([], schema=to_arrow_schema(data_schema))
            for fg in sorted(missing):
                d = os.path.join(out_dir, f"{FG}={fg}")
                os.makedirs(d, exist_ok=True)
                if fmt == "orc":
                    import pyarrow.orc as _orc
                    _orc.write_table(empty,
                                     os.path.join(d, "part-empty-00000.orc"))
                else:
                    pq.write_table(
                        empty, os.path.join(d, "part-empty-00000.parquet"))
    return collect_write_stats(meta, out_dir, fg_to_partition,
                               instant_time,
                               stats_columns=cfg.stats_columns,
                               fmt=fmt)


def _stat_value(v):
    """Footer stat value → JSON-storable, order-preserving form."""
    import datetime
    import decimal
    if isinstance(v, (bool, int, float, str)) or v is None:
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")          # "YYYY-MM-DD HH:MM:SS[.ffffff]"
    if isinstance(v, datetime.date):         # sorts like the value and like
        return v.isoformat()                 # Spark-style string literals
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return str(v)


def collect_write_stats(meta: TableMetaClient, out_dir: str,
                        fg_to_partition: dict[str, str],
                        instant_time: str,
                        stats_columns: tuple = (),
                        fmt: str = "parquet") -> list[WriteStat]:
    """Build WriteStats from the written files (row count + record-key
    min/max + per-column min/max for ``stats_columns`` — the column-stats
    index behind read-side data skipping).  Parquet: O(#files) tiny footer
    reads.  ORC: pyarrow exposes no stripe statistics, so min/max come from
    a column-pruned read of just the stats columns of each freshly-written
    file (bounded: a few column streams per ~target-size file; at cluster
    scale both variants become a mapInPandas job over the path list — the
    manifest shape is identical)."""
    import pyarrow.parquet as pq

    if not os.path.isdir(out_dir):   # empty frame → Spark wrote nothing
        return []
    suffix = ".orc" if fmt == "orc" else ".parquet"
    tasks = []
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith(f"{FG}="):
            continue
        fg = d.split("=", 1)[1]
        fdir = os.path.join(out_dir, d)
        for fn in sorted(os.listdir(fdir)):
            if fn.endswith(suffix):
                tasks.append((fg, os.path.join(fdir, fn)))

    def stat_one(task):
        fg, path = task
        min_k = max_k = None
        if fmt == "orc":
            import pyarrow.compute as pc
            import pyarrow.orc as orc
            f = orc.ORCFile(path)
            names = f.schema.names
            want = [c for c in {META_RECORD_KEY, *stats_columns}
                    if c in names]
            tbl = f.read(columns=want) if want else None
            num_rows = f.nrows

            def col_min_max(col):
                if tbl is None or col not in tbl.column_names \
                        or tbl.num_rows == 0:
                    return None
                mm = pc.min_max(tbl.column(col)).as_py()
                if mm["min"] is None:
                    return None
                return (mm["min"], mm["max"])
        else:
            md = pq.read_metadata(path)  # footer only — no reader setup
            num_rows = md.num_rows
            # column index of the record key in the parquet (physical)
            # schema; all our columns are top-level so leaf order == field
            # order
            names = [md.schema.column(i).name for i in range(md.num_columns)]

            def col_min_max(col):
                if col not in names:
                    return None
                ci = names.index(col)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is not None and st.has_min_max:
                        mins.append(st.min)
                        maxs.append(st.max)
                return (min(mins), max(maxs)) if mins else None

        mm = col_min_max(META_RECORD_KEY)
        if mm:
            min_k, max_k = mm
        col_stats = None
        if stats_columns:
            col_stats = {}
            for c in stats_columns:
                mm = col_min_max(c)
                if mm is not None:
                    lo, hi = _stat_value(mm[0]), _stat_value(mm[1])
                    if lo is not None and hi is not None:
                        col_stats[c] = [lo, hi]
            col_stats = col_stats or None
        return WriteStat(
            partition=fg_to_partition.get(fg, ""),
            file_group=fg,
            path=meta.rel_path(path),
            size=os.path.getsize(path),
            num_records=num_rows,
            min_key=min_k, max_key=max_k,
            col_stats=col_stats,
            base_instant=instant_time,
        )

    with ThreadPoolExecutor(max_workers=16) as ex:
        return list(ex.map(stat_one, tasks))
