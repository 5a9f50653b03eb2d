"""Catalog sync — the engine-native equivalent of Hive sync.

Reference: hudi-sync/hudi-hive-sync/.../HiveSyncTool.java — after each write
Hudi registers/updates the table (and its partitions + evolved schema) in the
Hive metastore so SQL engines can query it by name; for MERGE_ON_READ it
registers TWO tables, ``<name>_ro`` (read-optimized: base files only) and
``<name>_rt`` (realtime: full merge), HiveSyncTool.java's
ROTABLE/RT_TABLE suffix handling.  Partition values are derived from the
partition path by a PartitionValueExtractor
(hudi-sync/hudi-sync-common/.../HoodieSyncConfig — MultiPartKeysValueExtractor
splits on '/').

Two sync levels:

1. ``sync_to_catalog`` — session-level: registers the query DataFrames as
   temp views.  Cheap, always exact (snapshot AND realtime MOR), but visible
   only to this SparkSession.

2. ``sync_ddl`` — metastore-level parity: registers a real *catalog table*
   with per-partition ADD PARTITION DDL, so any engine that understands the
   catalog (or an external metastore fed the same DDL) can query by name.
   The engine's physical layout is instant-oriented
   (``data/<instant>/FG=<fg>/``), not partition-directory-oriented, so a
   partition's files are scattered across many instant dirs and also include
   superseded versions.  ``sync_ddl`` therefore builds a **manifest layer**:
   one directory per partition containing symlinks to exactly the latest
   file slices' base files (the same public pattern as Delta Lake's
   ``symlink_format_manifest`` for Presto/Athena — on object stores the
   symlink step becomes a manifest file; the DDL half is identical).  This
   makes the external table *snapshot-correct even when the cleaner retains
   old file versions* — something the reference only achieves via its custom
   HoodieInputFormat.

   COW → table ``<name>`` (exact snapshot).  MOR → table ``<name>_ro``
   (read-optimized; base files only — parity with the reference's _ro) plus
   temp view ``<name>_rt`` (realtime merge needs the engine, same as the
   reference needs its RealtimeInputFormat).

Re-syncs are incremental DDL, mirroring HiveSyncTool.syncPartitions:
new partitions → ADD PARTITION, moved → SET LOCATION, gone → DROP PARTITION;
new columns → ALTER TABLE ADD COLUMNS (syncSchema).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Optional, Sequence

from .config import MERGE_ON_READ, QUERY_READ_OPTIMIZED, QUERY_SNAPSHOT
from .keygen import NON_PARTITIONED

SYNC_FOLDER = "catalog_sync"   # under .hoodie/


def sync_to_catalog(table, name: Optional[str] = None,
                    global_view: bool = False) -> list[str]:
    """Register the table's query views in the Spark session catalog.

    COW → one view ``<name>``.  MOR → ``<name>_ro`` + ``<name>_rt`` and a
    ``<name>`` alias of the realtime view (matching the reference's dual
    registration, HiveSyncTool.java syncHoodieTable).
    Returns the list of registered view names.
    """
    base = name or table.tc.name
    register = (lambda df, n: df.createOrReplaceGlobalTempView(n)) \
        if global_view else (lambda df, n: df.createOrReplaceTempView(n))
    out = []
    if table.tc.table_type == MERGE_ON_READ:
        ro = table.read(QUERY_READ_OPTIMIZED)
        rt = table.read(QUERY_SNAPSHOT)
        register(ro, f"{base}_ro")
        register(rt, f"{base}_rt")
        register(rt, base)
        out = [f"{base}_ro", f"{base}_rt", base]
    else:
        register(table.read(QUERY_SNAPSHOT), base)
        out = [base]
    return out


def sync_partitions(table) -> list[str]:
    """Partition registration half of HiveSyncTool: the distinct partition
    paths currently live in the table (the reference pushes these as ALTER
    TABLE ADD PARTITION; ``sync_ddl`` below actually issues that DDL)."""
    return sorted({sl.partition for sl in table.view().latest_slices()})


# ---------------------------------------------------------------------------
# metastore-level DDL sync
# ---------------------------------------------------------------------------

def default_value_extractor(n_cols: int) -> Callable[[str], list[str]]:
    """Partition path → partition values, HiveSyncTool's
    MultiPartKeysValueExtractor: split on '/', one value per column.
    A declared column count that doesn't match the path's segments raises
    loudly — year='2024/07' silently matching nothing is worse than an
    error.  (The synthetic single ``partition_path`` column default in
    sync_ddl takes the whole path verbatim instead — see _raw_path_extractor.)"""
    def extract(path: str) -> list[str]:
        vals = path.split("/")
        if len(vals) != n_cols:
            raise ValueError(
                f"partition path {path!r} has {len(vals)} segments but "
                f"{n_cols} partition column(s) are declared")
        return vals
    return extract


def _raw_path_extractor(path: str) -> list[str]:
    """The whole partition path as the single synthetic ``partition_path``
    column's value — multi-level paths like 'yyyy/MM/dd' land verbatim."""
    return [path]


def _sanitize(seg: str) -> str:
    """Filesystem-safe, collision-free directory name: readable prefix plus
    a short content hash — plain character replacement alone would merge
    distinct partitions ('1995/01' and '1995_01' → same dir) and their
    symlink sets with them."""
    import hashlib
    safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in seg)
    if safe == seg:
        return seg
    return f"{safe}-{hashlib.md5(seg.encode()).hexdigest()[:8]}"


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _partition_spec(cols: Sequence[str], vals: Sequence[str]) -> str:
    return ", ".join(f"`{c}`={_sql_str(v)}" for c, v in zip(cols, vals))


def _build_manifest(table, instant: str) -> dict[str, str]:
    """Symlink farm: one dir per partition, links to exactly the latest
    slices' base files.  Returns {partition_path: abs_dir}.  O(#base files)
    driver metadata ops — same cost class as the reference's manifest/
    symlink generation; on an object store the links become a manifest file
    per partition consumed by SymlinkTextInputFormat."""
    root = os.path.join(table.meta.meta_path, SYNC_FOLDER, instant)
    os.makedirs(root, exist_ok=True)
    by_partition: dict[str, str] = {}
    for sl in table.view().latest_slices():
        pdir = by_partition.get(sl.partition)
        if pdir is None:
            pdir = os.path.join(root, _sanitize(sl.partition) or "default")
            os.makedirs(pdir, exist_ok=True)
            by_partition[sl.partition] = pdir
        for f in sl.base_files:
            src = f.path if os.path.isabs(f.path) else table.meta.abs_path(f.path)
            # file names carry a per-write UUID, but prefix with the slice
            # identity anyway so cross-instant names can never collide
            link = os.path.join(
                pdir, f"{_sanitize(sl.file_group)}_{_sanitize(sl.base_instant)}"
                      f"_{os.path.basename(src)}")
            if not os.path.lexists(link):
                os.symlink(src, link)
    return by_partition


def _prune_old_manifests(table, keep_instant: str) -> None:
    """Remove superseded manifest snapshot dirs — but keep every instant a
    *_table marker still references: the same table may be synced under
    several catalog names at different instants, and a name not re-synced
    yet must keep resolving its partition locations."""
    d = os.path.join(table.meta.meta_path, SYNC_FOLDER)
    if not os.path.isdir(d):
        return
    keep = {keep_instant, "_table"}
    mdir = os.path.join(d, "_table")
    if os.path.isdir(mdir):
        for m in os.listdir(mdir):
            if m.endswith(".last_instant"):
                try:
                    with open(os.path.join(mdir, m)) as f:
                        keep.add(f.read().strip())
                except OSError:
                    pass
    for x in os.listdir(d):
        if x not in keep:
            shutil.rmtree(os.path.join(d, x), ignore_errors=True)


def _schema_ddl(schema) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)


def _sync_one_table(table, spark, name: str,
                    partition_columns: Sequence[str],
                    extractor: Callable[[str], list[str]],
                    by_partition: dict[str, str],
                    drop_missing: bool, repoint: bool = True) -> dict:
    """Create-or-evolve one catalog table + reconcile its partition set."""
    full = table.read(QUERY_READ_OPTIMIZED
                      if table.tc.table_type == MERGE_ON_READ
                      else QUERY_SNAPSHOT).schema
    # partition columns are catalog-level: keep them out of the data schema
    # (they may mirror real data fields, e.g. partition_columns=["o_orderpriority"];
    # the reader takes their value from the partition spec, extra file columns
    # are ignored)
    from pyspark.sql.types import StructType
    schema = StructType([f for f in full.fields
                         if f.name not in set(partition_columns)])
    partitioned = list(by_partition) != [NON_PARTITIONED]
    stats = {"created": False, "added": [], "moved": [], "dropped": [],
             "new_columns": []}

    if not partitioned:
        # single unpartitioned external table straight over the manifest dir
        loc = next(iter(by_partition.values()))
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        spark.sql(f"CREATE TABLE `{name}` ({_schema_ddl(schema)}) "
                  f"USING PARQUET LOCATION {_sql_str(loc)}")
        stats["created"] = True
        return stats

    pcols_ddl = ", ".join(f"`{c}` STRING" for c in partition_columns)
    table_root = os.path.join(table.meta.meta_path, SYNC_FOLDER, "_table")
    os.makedirs(table_root, exist_ok=True)

    exists = spark.catalog.tableExists(name)
    if exists:
        # schema evolution (HiveSyncTool.syncSchema): append-only ADD COLUMNS;
        # anything non-additive (type change, drop) → recreate the catalog
        # entry (metadata-only; data untouched)
        have = {f.name: f.dataType.simpleString()
                for f in spark.table(name).schema.fields
                if f.name not in set(partition_columns)}
        want = {f.name: f.dataType.simpleString() for f in schema.fields}
        non_additive = any(have.get(k) not in (None, v) for k, v in want.items())
        if non_additive:
            spark.sql(f"DROP TABLE `{name}`")
            exists = False
        else:
            new_cols = [(f.name, f.dataType.simpleString())
                        for f in schema.fields if f.name not in have]
            if new_cols:
                cols = ", ".join(f"`{n}` {t}" for n, t in new_cols)
                spark.sql(f"ALTER TABLE `{name}` ADD COLUMNS ({cols})")
                stats["new_columns"] = [n for n, _ in new_cols]

    if not exists:
        spark.sql(
            f"CREATE TABLE `{name}` ({_schema_ddl(schema)}, {pcols_ddl}) "
            f"USING PARQUET PARTITIONED BY "
            f"({', '.join(f'`{c}`' for c in partition_columns)}) "
            f"LOCATION {_sql_str(table_root)}")
        stats["created"] = True

    # reconcile partitions (HiveSyncTool.syncPartitions)
    live = {tuple(extractor(p)): loc for p, loc in by_partition.items()}
    existing: dict[tuple, str] = {}
    from urllib.parse import unquote
    for row in spark.sql(f"SHOW PARTITIONS `{name}`").collect():
        vals = tuple(unquote(seg.split("=", 1)[1]) for seg in row[0].split("/"))
        existing[vals] = ""
    for vals, loc in live.items():
        spec = _partition_spec(partition_columns, vals)
        if vals not in existing:
            spark.sql(f"ALTER TABLE `{name}` ADD IF NOT EXISTS "
                      f"PARTITION ({spec}) LOCATION {_sql_str(loc)}")
            stats["added"].append("/".join(vals))
        elif repoint:
            # manifest dir moved to the new instant → repoint; skipped when
            # the last-synced instant is unchanged (locations identical) so
            # an idempotent re-sync issues zero per-partition DDL
            spark.sql(f"ALTER TABLE `{name}` PARTITION ({spec}) "
                      f"SET LOCATION {_sql_str(loc)}")
            stats["moved"].append("/".join(vals))
    if drop_missing:
        for vals in set(existing) - set(live):
            spec = _partition_spec(partition_columns, vals)
            spark.sql(f"ALTER TABLE `{name}` DROP IF EXISTS PARTITION ({spec})")
            stats["dropped"].append("/".join(vals))
    return stats


def sync_ddl(table, name: Optional[str] = None,
             partition_columns: Optional[Sequence[str]] = None,
             partition_value_extractor: Optional[
                 Callable[[str], list[str]]] = None,
             drop_missing_partitions: bool = True) -> dict:
    """Metastore-level sync: catalog table + partition DDL over a
    latest-slice manifest (module docstring).  Idempotent; call after each
    write (or hook via ``enable_auto_sync``).  Returns per-table DDL stats.

    ``partition_columns`` defaults to one ``partition_path`` column holding
    the raw partition path; pass the real field names (e.g. ``["year",
    "month"]``) with slash-separated paths for HiveSyncTool-style
    multi-column partitions.
    """
    spark = table.spark
    base = name or table.tc.name
    last = table.timeline.last_completed()
    instant = last.time if last else "0"
    by_partition = _build_manifest(table, instant)
    if not by_partition:
        return {"tables": {}, "instant": instant}
    pcols = list(partition_columns or ["partition_path"])
    # default synthetic column: raw path passthrough (never raises on
    # multi-level paths); REAL declared columns keep strict segment checks
    extractor = partition_value_extractor or (
        _raw_path_extractor if pcols == ["partition_path"]
        else default_value_extractor(len(pcols)))

    # last-synced instant marker: a re-sync at the same instant points at
    # identical manifest dirs, so per-partition SET LOCATION is a no-op —
    # skip it and keep idempotent re-syncs at zero per-partition DDL
    marker_dir = os.path.join(table.meta.meta_path, SYNC_FOLDER, "_table")
    os.makedirs(marker_dir, exist_ok=True)
    marker = os.path.join(marker_dir, f"{base}.last_instant")
    prev_instant = None
    if os.path.exists(marker):
        with open(marker) as f:
            prev_instant = f.read().strip()
    repoint = prev_instant != instant

    out = {"tables": {}, "instant": instant}
    if table.tc.table_type == MERGE_ON_READ:
        out["tables"][f"{base}_ro"] = _sync_one_table(
            table, spark, f"{base}_ro", pcols, extractor, by_partition,
            drop_missing_partitions, repoint=repoint)
        # realtime view needs the engine's merge — session view, like the
        # reference's _rt needs RealtimeInputFormat
        table.read(QUERY_SNAPSHOT).createOrReplaceTempView(f"{base}_rt")
        out["tables"][f"{base}_rt"] = {"view": True}
    else:
        out["tables"][base] = _sync_one_table(
            table, spark, base, pcols, extractor, by_partition,
            drop_missing_partitions, repoint=repoint)
    with open(marker + ".tmp", "w") as f:
        f.write(instant)
    os.replace(marker + ".tmp", marker)
    _prune_old_manifests(table, instant)
    return out


def enable_auto_sync(table, name: Optional[str] = None, **sync_kwargs) -> None:
    """Post-commit hook parity with the reference's hive_sync.enabled: run
    ``sync_ddl`` after every completed commit (HoodieSparkSqlWriter calls
    HiveSyncTool when hoodie.datasource.hive_sync.enable=true)."""
    def _cb(instant_time, md):
        sync_ddl(table, name, **sync_kwargs)
    table._commit_callbacks.append(_cb)
