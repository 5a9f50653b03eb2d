"""Shared operator plumbing."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def checkpoint(df: DataFrame, checkpoint_dir: Optional[str],
               eager: bool) -> DataFrame:
    """Pin ``df`` off its lineage: ``localCheckpoint`` by default (cheap,
    executor-local — blocks lost to executor failure are unrecoverable), or
    a RELIABLE ``checkpoint`` when ``checkpoint_dir`` is set (survives
    executor loss; pass an HDFS/object-store path on long-lived clusters).
    Results are identical either way.

    The checkpoint dir is session-global state, so it is set only when the
    session has none; a session already checkpointing under the same dir
    keeps it, and one checkpointing elsewhere raises ``ValueError`` rather
    than being redirected under another writer's feet."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    current = sc.getCheckpointDir()
    if current is None:
        sc.setCheckpointDir(checkpoint_dir)
    else:
        # Spark checkpoints under a fresh <dir>/<uuid> subdirectory,
        # stored fully qualified
        jpath = sc._jvm.org.apache.hadoop.fs.Path
        want = jpath(checkpoint_dir)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()) \
                   .makeQualified(want)
        if not jpath(current).getParent().equals(want):
            raise ValueError(
                f"checkpoint_dir {checkpoint_dir!r} conflicts with the "
                f"session's checkpoint dir {current!r}; pass the same dir "
                "or None")
    return df.checkpoint(eager=eager)


def ensure_min_parallelism(df: DataFrame, key: Optional[str] = None) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy per-row work.

    Small corpora often arrive as one or two scan partitions (a single
    parquet file), which would serialize an explode/regex/hash pipeline onto
    one core.  Repartition up to the default parallelism ONLY in that case —
    at scale the input already has ≥ cores partitions and this is a no-op
    (no shuffle inserted).  ``key``: hash-partition by this column so a
    downstream groupBy(key) reuses the exchange instead of adding its own.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur >= target:
        return df
    return df.repartition(target, F.col(key)) if key else df.repartition(target)
