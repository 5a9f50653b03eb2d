"""Manifest-driven parquet scans over explicit file lists.

Every engine read addresses exact FILES it already knows from the commit
manifests (paths + sizes) — never a directory glob.  Spark, however, treats
>32 explicit paths as "unknown big listing" and launches a distributed
file-listing JOB per scan (``spark.sql.sources.parallelPartitionDiscovery
.threshold``); for the manifest-sized path sets every snapshot/incremental
read builds (a few hundred files), that job's scheduling overhead dominates
plan construction (~200 ms × several scans per read).

``scan_parquet`` raises the threshold while the scan is resolved so those
path sets list driver-side (a stat per known file), and leaves Spark's
distributed listing in place for genuinely huge sets (> LISTING_JOB_MAX
files — at 100 TB a full-table scan references ~1M files and the listing
job is the right call there; reference hit the same wall and solved it with
its metadata table, HoodieBackedTableMetadata — our metadata_table.py
checkpoint covers the listing-avoidance side).
"""

from __future__ import annotations

import threading
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import (META_COMMIT_SEQNO, META_COMMIT_TIME, META_FILE_NAME,
                     META_PARTITION_PATH, META_RECORD_KEY)
from .keygen import partition_path_col, record_key_col

_CONF_LOCK = threading.Lock()

# path sets up to this size resolve with driver-side listing; larger ones
# keep Spark's distributed listing job
LISTING_JOB_MAX = 8192

_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def scan_parquet(spark: SparkSession, paths: Sequence[str],
                 schema=None, fmt: str = "parquet") -> DataFrame:
    """``spark.read[.schema(schema)].parquet(*paths)`` without the
    distributed-listing job for manifest-sized path sets.  The conf is
    restored immediately after resolution (listing happens eagerly inside
    the ``parquet()`` call).  ``fmt="orc"`` scans ORC base files the same
    way (TableConfig.base_format)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    # DataFrameReader.orc takes a path list, parquet takes varargs
    load = ((lambda *ps: reader.orc(list(ps))) if fmt == "orc"
            else reader.parquet)
    if len(paths) <= 32 or len(paths) > LISTING_JOB_MAX:
        return load(*paths)
    # the conf is session-global: serialize set/restore so two concurrent
    # engine reads can't interleave (one thread restoring the other's
    # temporary value would leave 8192 set for the whole application).
    # The already-high check also happens INSIDE the lock — outside it could
    # observe another thread's temporary bump and then list after restore.
    with _CONF_LOCK:
        prev = spark.conf.get(_CONF, None)
        try:
            if prev is not None and int(prev) >= len(paths):
                return load(*paths)   # user set it high — no mutation
        except ValueError:
            pass
        try:
            spark.conf.set(_CONF, str(LISTING_JOB_MAX))
            return load(*paths)
        finally:
            if prev is None:
                spark.conf.unset(_CONF)
            else:
                spark.conf.set(_CONF, prev)


def bootstrap_skeleton(files: Sequence[tuple[str, str, str]],
                       tc) -> dict[str, Column]:
    """Virtual skeleton of METADATA_ONLY-bootstrapped source files: the meta
    columns the reference stitches from skeleton files
    (HoodieBootstrapRelation.scala / HoodieBootstrapRDD.scala) as pure
    expressions over a scan of ``files`` — (abs path, file group, bootstrap
    instant) triples.  Key/partition come from the keygen, commit time from
    the bootstrap instant and file name from a path → file-group map keyed
    on the scanned row's input file.  Callers scan the files themselves and
    select the columns they need."""
    norm = F.regexp_replace(F.input_file_name(), "^file:/*", "/")
    fg_map = F.create_map(*[x for p, fg, _ in files
                            for x in (F.lit(p), F.lit(fg))])
    it_map = F.create_map(*[x for p, _, it in files
                            for x in (F.lit(p), F.lit(it))])
    return {
        META_RECORD_KEY: record_key_col(tc.recordkey_fields),
        META_PARTITION_PATH: partition_path_col(tc.partition_expr),
        META_COMMIT_TIME: it_map[norm],
        META_COMMIT_SEQNO: F.concat_ws(
            "_", it_map[norm],
            F.monotonically_increasing_id().cast("string")),
        META_FILE_NAME: fg_map[norm],
    }
