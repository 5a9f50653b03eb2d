"""HudiTable — the public table API (write operators × read operators).

The programmatic surface mirrors the reference's SparkRDDWriteClient
(hudi-client/hudi-spark-client/.../client/SparkRDDWriteClient.java:118-348)
and datasource read dispatch (hudi-spark-datasource/.../DefaultSource.scala:
111-137), re-expressed as DataFrame transforms over plain Parquet plus the
JSON timeline.  Every operator below cites its reference twin.

Scale design (what survives 1000 executors / 100 TB):
  - reads resolve O(#file-groups) paths driver-side from the commit manifest —
    zero filesystem listing — and hand Spark a plain parquet scan (Catalyst
    pushdown/pruning/codegen all apply);
  - upsert shuffles only the incoming batch + the rewritten file groups,
    never the table;
  - merges are key-hash windows (map-side combine, AQE skew handling);
  - all planning state on the driver is O(#touched file groups).
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager, nullcontext
from functools import cached_property
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, StringType, StructField,
                               StructType)

from . import timeline as tl
from .config import (BULK_INSERT, COPY_ON_WRITE, DELETE, DELETE_MARKER,
                     DELETE_PARTITION, INDEX_INMEMORY, INDEX_SIMPLE, INSERT,
                     INSERT_OVERWRITE,
                     INSERT_OVERWRITE_TABLE, MERGE_ON_READ, META_COLUMNS,
                     META_COMMIT_TIME, META_FILE_NAME,
                     META_PARTITION_PATH,
                     META_RECORD_KEY, PAYLOAD_DEFAULT,
                     PAYLOAD_OVERWRITE_LATEST, QUERY_INCREMENTAL,
                     QUERY_READ_OPTIMIZED,
                     QUERY_SNAPSHOT, SORT_GLOBAL, SORT_PARTITION, UPSERT,
                     TableConfig, WriteConfig)
from .fsview import FileSlice, FileSystemView, WriteStat, may_hold_keys
from .indexing import FG_COL, load_key_index, tag_locations
from .keygen import partition_path_col, sql_ident
from .metaclient import TableMetaClient
from .plans.buckets import (assign_insert_buckets, avg_record_size,
                            bucket_map_sql, new_fg_id, plan_insert_buckets)
from .writer import (API_DELETE, FG, MERGE_KEY, NEW_FLAG,
                     drop_deleted, live_sql, merge_latest, prepare_batch,
                     precombine_dedup_in_bucket, with_key_columns,
                     write_instant_files)

from .scan import bootstrap_skeleton, scan_parquet
from .services.clustering import ClusteringUpdateConflict as _ClusteringConflict

# MOR merged read/compaction: dirty slice-sets whose log files total at most
# this many bytes take the broadcast-split merge (HudiTable._merge_logs);
# larger log sets take the union + window merge (logs too big to broadcast)
MOR_MERGE_BROADCAST_MAX_LOG_BYTES = 64 * 1024 * 1024
# batches up to this many rows may collect their key set driver-side to
# bloom-prune the COW rewrite set (HudiTable._stats_rewrite_set; the
# reference BLOOM index's second pruning stage after min/max ranges)
BLOOM_PRUNE_MAX_BATCH_KEYS = 5_000
# batches up to this many rows broadcast their key set to prune the index
# scan (indexing.tag_locations) instead of shuffling/building it; on COW
# they also take the broadcast anti-join rewrite instead of the window
# merge (HudiTable._write_batch picks the lane)
INDEX_BROADCAST_MAX_ROWS = 1_000_000


class _CommitOp:
    """One commit in flight (HudiTable._commit).  ``active`` is the
    operation's one active-timeline snapshot, listed on first use;
    ``view`` and the key-index validity ``token`` derive from it, so token
    and view describe the same state by construction.  The body hands the
    skeleton what it completes with: ``stats``, ``schema``, ``replaced``,
    ``keep_index`` (the commit left every cached key location correct;
    None: the key index is not this commit's business) and, for the
    non-data actions, their own completed ``metadata``."""

    def __init__(self, table: "HudiTable", instant: tl.Instant):
        self.table, self.instant = table, instant
        self.stats: list[WriteStat] = []
        self.schema: Optional[StructType] = None
        self.replaced: Optional[list] = None
        self.keep_index: Optional[bool] = None
        self.metadata: Optional[dict] = None

    @cached_property
    def active(self) -> list:
        return self.table.timeline.instants()

    @cached_property
    def view(self) -> FileSystemView:
        return self.table.view(active_instants=self.active)

    @cached_property
    def token(self) -> frozenset:
        return self.table._data_instants_token(self.active)


class HudiTable:
    def __init__(self, spark: SparkSession, base_path: str,
                 write_config: Optional[WriteConfig] = None):
        self.spark = spark
        self.meta = TableMetaClient(base_path)
        self.cfg = write_config or WriteConfig()
        # OCC pre-commit guard (concurrency.OccWriter installs a context
        # manager factory: _pre_commit_hook(instant_time, touched_fgs))
        self._pre_commit_hook = None
        # INMEMORY index state (SparkInMemoryHashIndex.java): a persisted
        # (key, partition, fg) DataFrame cached across write batches.
        # Validity token = the SET of completed data-action instant times at
        # validation (plus a ("pending", instant) sentinel while a seeding
        # write is inflight).  Comparing the whole set — not just the newest
        # time — catches commits that complete at a buried instant time:
        # executing a scheduled clustering/compaction plan completes a
        # replacecommit at its old SCHEDULED time, which can sort before the
        # cache's validation point while replacing file groups the cache
        # still maps keys to (stale routing there silently loses rows).
        # The pinned frame holds each (key, partition, fg) once: it is
        # deduplicated when pinned or extended, so tagging against it skips
        # a per-batch dedup shuffle (indexing.tag_locations index_unique).
        self._key_index: Optional[DataFrame] = None
        self._key_index_parts: set = set()
        self._key_index_valid_token = None
        # rollback-on-start bookkeeping (_start): the data instant started
        # here and not completed yet; recovery running / done on this instance
        self._last_started: Optional[str] = None
        self._recovering = False
        self._recovered_on_start = False
        # cb(instant_time, metadata) after each completed data commit
        # (HoodieWriteCommitCallback; catalog auto-sync registers one)
        self._commit_callbacks: list = []
        self._last_batch_keys: Optional[int] = None    # _probe_fast_lane
        self._mor_log_persist: Optional[DataFrame] = None    # _merge_logs
        # NOTE: commit bookkeeping (streaming batch-id stamps, ingest
        # checkpoints) is threaded through the write ops as an explicit
        # ``commit_extras`` argument into _complete() — never a mutable
        # table-level slot.  A table-level "next commit" slot raced with
        # table services committing on daemon threads (async compaction's
        # commit could steal the streaming stamp → silent data loss on
        # crash replay).  HoodieStreamingSink.scala:92-94 /
        # DeltaSync.java:311-360 likewise record these in the same commit.

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @staticmethod
    def create(spark: SparkSession, base_path: str, name: str,
               recordkey_fields: Sequence[str],
               partition_expr: Optional[str] = None,
               precombine_field: Optional[str] = None,
               table_type: str = COPY_ON_WRITE,
               payload: Optional[str] = None,
               write_config: Optional[WriteConfig] = None,
               base_format: str = "parquet") -> "HudiTable":
        """CREATE TABLE (CreateHoodieTableCommand.scala equivalent)."""
        if base_format not in ("parquet", "orc"):
            raise ValueError(f"unsupported base file format {base_format!r} "
                             "(parquet, orc; reference HoodieFileFormat.java)")
        tc = TableConfig(
            name=name, table_type=table_type,
            recordkey_fields=tuple(recordkey_fields),
            partition_expr=partition_expr,
            precombine_field=precombine_field,
            payload=payload or PAYLOAD_OVERWRITE_LATEST,
            base_format=base_format)
        TableMetaClient.initialize(base_path, tc)
        t = HudiTable(spark, base_path, write_config)
        t._recover_dangling()
        return t

    @staticmethod
    def load(spark: SparkSession, base_path: str,
             write_config: Optional[WriteConfig] = None) -> "HudiTable":
        if not TableMetaClient.exists(base_path):
            raise FileNotFoundError(f"not a table (no .hoodie): {base_path}")
        t = HudiTable(spark, base_path, write_config)
        return t

    @property
    def tc(self) -> TableConfig:
        return self.meta.config

    @property
    def timeline(self) -> tl.Timeline:
        return self.meta.timeline

    def view(self, as_of: Optional[str] = None,
             active_instants: Optional[list] = None) -> FileSystemView:
        return FileSystemView(self.meta, as_of=as_of,
                              active_instants=active_instants)

    # ------------------------------------------------------------------
    # INMEMORY index cache (SparkInMemoryHashIndex.java — generalised to a
    # persisted DataFrame so it scales past driver memory; the reference's
    # ConcurrentHashMap is test-only)
    # ------------------------------------------------------------------
    def _invalidate_key_index(self) -> None:
        if self._key_index is not None:
            try:
                self._key_index.unpersist()
            except Exception:
                pass
        self._key_index = None
        self._key_index_parts = set()
        self._key_index_valid_token = None

    def _data_instants_token(self, active: Optional[list] = None) -> frozenset:
        """Cache-validity token: every completed data-action instant time.
        Pass ``active`` (a ``timeline.instants()`` snapshot) to derive the
        token from an existing listing instead of paying a fresh one."""
        if active is None:
            active = self.timeline.instants()
        return frozenset(i.time for i in
                         tl.completed_from(active, tl.DATA_ACTIONS))

    def _token_still_valid(self, stored, current: frozenset) -> bool:
        """Is a cached key index stamped with ``stored`` still trustworthy
        when the active timeline now shows ``current``?

        - equal → yes (nothing committed since the stamp).
        - ``current`` has an instant ``stored`` never saw → no (a foreign
          commit may have remapped keys).
        - ``current`` only SHRANK → yes iff every missing instant now sits
          in the archive dir: archival moves an oldest prefix of completed
          instants out of the active timeline without touching key→file-
          group mappings (services/archival.py).  Safe because archival
          retains ≥ archive_min_commits newest instants — a foreign commit
          can never vanish into the archive without an even newer foreign
          instant staying active (which fails the superset check above).
          Anything else missing (a restore deleting commits) → no.
        One archive-dir listing, paid only on the rare shrink; callers
        re-stamp the cache with ``current`` on success so the next batch
        compares equal again."""
        if stored == current:
            return True
        if not isinstance(stored, frozenset):   # None / ("pending", t)
            return False
        if not (current <= stored):
            return False
        missing = stored - current
        archived = {i.time for i in self.timeline.archived_instants()}
        return missing <= archived

    @property
    def _index_cache_on(self) -> bool:
        """Session key-index cache applies to INMEMORY (that IS the index)
        and to SIMPLE.  For SIMPLE it is an optimization over the
        reference's per-batch re-scan (SparkSimpleIndex,
        HoodieSimpleIndex.java fetchRecordLocations): the persisted
        key→file-group frame trades executor memory (key, partition and
        file-group columns, spilled to disk past memory) for skipping that
        table-sized scan on every steady-state batch.  It is invalidated
        whenever the completed data instants differ from the ones it was
        built at, so any out-of-band commit drops it and semantics are
        identical."""
        return self.cfg.index_type in (INDEX_INMEMORY, INDEX_SIMPLE)

    def _load_index(self, view: FileSystemView,
                    partitions: Optional[list],
                    key_range: Optional[tuple],
                    token: Optional[frozenset],
                    only_fgs: Optional[set] = None) -> DataFrame:
        """Key→location index for tagging.  INMEMORY and SIMPLE keep the
        scan result persisted across batches (valid while no commit has
        changed any key→file-group mapping; update-only upserts extend
        validity), loading only partitions not yet covered — repeated
        upserts into hot partitions skip the table-sized key-column scan
        entirely.

        ``token`` (``_data_instants_token``) comes from the same timeline
        snapshot as ``view``, and the caller has already checked the pinned
        index against it; a fresh pin is stamped with it.  A token taken
        AFTER the view would be loss-shaped: a pin built from a pre-commit
        view, stamped with a post-commit token, is trusted forever."""
        it = self.cfg.index_type
        if not self._index_cache_on:
            return load_key_index(self.spark, self.meta, view, it,
                                  partitions, key_range, tc=self.tc,
                                  only_fgs=only_fgs)
        need = set(partitions or [])
        if self._key_index is None:
            # materialized by this batch's tagging join, which scans all of
            # it: an eager count() here would run the scan and the dedup
            # exchange as jobs of their own.  The scan's file list is fixed
            # at the token's view, and a cleaner never deletes latest slices.
            df = load_key_index(self.spark, self.meta, view, INDEX_SIMPLE,
                                sorted(need), None,
                                tc=self.tc).dropDuplicates().persist()
            self._key_index = df
            self._key_index_parts = set(need)
            self._key_index_valid_token = token
        else:
            missing = sorted(need - self._key_index_parts)
            if missing:
                # new partitions only: disjoint from the pinned rows
                add = load_key_index(self.spark, self.meta, view,
                                     INDEX_SIMPLE, missing, None,
                                     tc=self.tc).dropDuplicates()
                old = self._key_index
                merged = old.unionByName(add).persist()
                merged.count()
                old.unpersist()
                self._key_index = merged
                self._key_index_parts |= set(missing)
        return self._key_index

    def _recover_dangling(self) -> None:
        """Crash recovery on open: roll back inflight/requested *data* writes
        left behind by a failed writer (reference: rollback-on-start,
        BaseRollbackActionExecutor + marker files; our manifest design means
        dangling files are invisible anyway — we just clear the instants)."""
        from .services.rollback import rollback_pending
        rollback_pending(self)

    # ------------------------------------------------------------------
    # schema bookkeeping (TableSchemaResolver.java:55,154-179 — schema rides
    # in the last commit's metadata; evolution = compatible adds)
    # ------------------------------------------------------------------
    def stored_schema(self, active: Optional[list] = None) -> Optional[StructType]:
        if active is None:
            active = self.timeline.instants()
        comp = tl.completed_from(active, tl.DATA_ACTIONS)
        last = comp[-1] if comp else None
        if last is None:
            # degenerate corner: every data instant archived (deep restore
            # after heavy archival) — the schema still rides in the newest
            # archived commit's metadata
            archived = sorted((i for i in self.timeline.archived_instants()
                               if i.action in tl.DATA_ACTIONS),
                              key=lambda i: i.time)
            if not archived:
                return None
            last = archived[-1]
        md = self.timeline.read_metadata(last)
        sj = md.get("schema")
        return StructType.fromJson(json.loads(sj)) if sj else None

    @staticmethod
    def _is_widening(old, new) -> bool:
        """Avro-promotion-style compatible type widening (the reference's
        schema resolution allows int→long and float→double; Spark 4's parquet
        reader reads old narrow files directly with the widened schema).
        Decimal: precision growth at the same scale."""
        from pyspark.sql.types import (ByteType, DecimalType, DoubleType,
                                       FloatType, IntegerType, LongType,
                                       ShortType)
        ints = (ByteType, ShortType, IntegerType, LongType)
        if isinstance(old, ints) and isinstance(new, ints):
            return ints.index(type(new)) > ints.index(type(old))
        if isinstance(old, FloatType) and isinstance(new, DoubleType):
            return True
        if isinstance(old, DecimalType) and isinstance(new, DecimalType):
            return new.scale == old.scale and new.precision >= old.precision
        return False

    @classmethod
    def _evolve(cls, prev: Optional[StructType], new: StructType) -> StructType:
        if prev is None:
            return new
        by_name = {f.name: f for f in prev.fields}
        widened: dict[str, StructField] = {}
        for f in new.fields:
            old = by_name.get(f.name)
            if old is None:
                by_name[f.name] = f  # backwards-compatible add
            elif old.dataType.simpleString() != f.dataType.simpleString():
                if cls._is_widening(old.dataType, f.dataType):
                    widened[f.name] = StructField(f.name, f.dataType,
                                                  old.nullable or f.nullable)
                elif cls._is_widening(f.dataType, old.dataType):
                    pass  # incoming is narrower — stored type wins, union casts up
                else:
                    raise ValueError(
                        f"incompatible schema change for column {f.name}: "
                        f"{old.dataType.simpleString()} -> {f.dataType.simpleString()}")
        # preserve previous order (applying widenings), append new fields
        fields = [widened.get(f.name, f) for f in prev.fields]
        fields += [f for f in new.fields if f.name not in
                   {p.name for p in prev.fields}]
        return StructType(fields)

    def _read_schema(self, extra_bool_cols: Sequence[str] = (),
                     active: Optional[list] = None) -> StructType:
        s = self.stored_schema(active)
        if s is None:
            raise ValueError("table has no completed commits")
        fields = list(s.fields)
        names = {f.name for f in fields}
        for c in extra_bool_cols:
            if c not in names:
                fields.append(StructField(c, BooleanType()))
        return StructType(fields)

    # ------------------------------------------------------------------
    # the commit skeleton (BaseCommitActionExecutor → the write client's
    # commit/postWrite, SparkRDDWriteClient.java:263-281)
    # ------------------------------------------------------------------
    @contextmanager
    def _commit(self, action: str, operation: Optional[str] = None, *,
                requested: Optional[tl.Instant] = None,
                plan: Optional[dict] = None,
                extra: Optional[dict] = None,
                completed_action: Optional[str] = None,
                post_commit: bool = True):
        """Claim the instant (``_start``), or move a service's ``requested``
        plan to inflight; yield the ``_CommitOp`` the body fills in; then
        ``_complete`` (non-data actions, ``operation`` None, write
        ``op.metadata`` as-is), restamp the key index when the body set
        ``op.keep_index``, and run ``_post_commit`` unless ``post_commit``
        is off (ALTERs, and the services, which run inside ``_post_commit``
        or on daemon threads).  A ``ClusteringUpdateConflict`` is raised
        before anything is written, so the claimed instant is dropped;
        every other failure leaves it for rollback-on-start."""
        if requested is None:
            instant = self._start(action)
        else:
            instant = self.timeline.transition_to_inflight(requested, plan)
        op = _CommitOp(self, instant)
        try:
            yield op
        except _ClusteringConflict:
            if requested is None:
                for st in (tl.REQUESTED, tl.INFLIGHT):
                    self.timeline.delete_instant(
                        tl.Instant(instant.time, action, st))
                if self._last_started == instant.time:
                    self._last_started = None
            raise
        if operation is None:
            self.timeline.transition_to_completed(instant, op.metadata)
        else:
            self._complete(instant, operation, op.stats, op.schema,
                           replaced=op.replaced, extra=extra,
                           completed_action=completed_action)
        if op.keep_index is not None and self._index_cache_on:
            # the cache is stamped with the PRE-write token plus our own
            # instant, never a fresh listing: a daemon commit that completed
            # DURING the write stays missing from the token, so the next
            # batch invalidates instead of trusting a cache that never saw it
            if op.keep_index:
                self._key_index_valid_token = op.token | {instant.time}
            else:
                self._invalidate_key_index()
        if post_commit:
            self._post_commit()

    def _start(self, action: str) -> tl.Instant:
        # eager rollback of failed writes at write start (the reference's
        # rollback-on-start) — single-writer mode only: with OCC another
        # writer's inflight instant is live work, not a crash (the reference
        # likewise defers to heartbeat-based lazy cleaning under OCC)
        if action in tl.DATA_ACTIONS:
            # refuse newer-version tables / auto-upgrade older ones BEFORE
            # any instant exists (UpgradeDowngrade at write-client init)
            from .services.upgrade import check_write_version
            check_write_version(self)
            # once per table instance, like the reference (rollback-on-start
            # happens at WRITE-CLIENT init, not per commit — a live writer's
            # own COMPLETED batches can't be crash debris, and under
            # single-writer mode nobody else writes); saves a timeline
            # listing + metadata reads on every steady-state batch.  A data
            # write that STARTED but never completed on this instance
            # (exception after _start) IS debris, so _last_started re-arms
            # recovery for the next write.
            if self._last_started is not None:
                self._recovered_on_start = False
            if self._pre_commit_hook is None and not self._recovering \
                    and not self._recovered_on_start:
                self._recovering = True
                try:
                    self._recover_dangling()
                    self._recovered_on_start = True
                finally:
                    self._recovering = False
        # atomic cross-process claim: two writers minting the same
        # millisecond can never share an instant (timeline.claim_instant)
        ins = self.timeline.claim_instant(action)
        if action in tl.DATA_ACTIONS and not self._recovering:
            self._last_started = ins.time
        return self.timeline.transition_to_inflight(ins)

    def _complete(self, instant: tl.Instant, operation: str,
                  stats: list[WriteStat],
                  schema: Optional[StructType],
                  replaced: Optional[Iterable[tuple[str, str]]] = None,
                  extra: Optional[dict] = None,
                  completed_action: Optional[str] = None) -> tl.Instant:
        md = {
            "instant": instant.time,
            "operation": operation,
            "schema": schema.json() if schema is not None else None,
            "write_stats": [s.to_json() for s in stats],
            "replaced_file_groups": [list(x) for x in (replaced or [])],
            "num_records_written": sum(s.num_records for s in stats),
            "total_bytes_written": sum(s.size for s in stats),
            "extra": dict(extra or {}),
        }
        guard = nullcontext()
        if self._pre_commit_hook is not None:
            touched = {(s.partition, s.file_group) for s in stats}
            touched |= {tuple(x) for x in (replaced or [])}
            guard = self._pre_commit_hook(instant.time, touched)
        with guard:
            done = self.timeline.transition_to_completed(instant, md,
                                                         completed_action)
        if self._last_started == instant.time:
            self._last_started = None    # batch completed — not debris
        for cb in self._commit_callbacks:
            cb(done.time, md)  # HoodieWriteCommitCallback equivalent
        return done

    # ------------------------------------------------------------------
    # write preparation
    # ------------------------------------------------------------------
    def _prepare(self, df: DataFrame, instant_time: str, combine: bool) -> DataFrame:
        from .indexing import is_global
        return prepare_batch(df, self.tc, instant_time, combine,
                             global_index=is_global(self.cfg.index_type))

    def _keyed_profile(self, df: DataFrame, combined: bool) -> Optional[DataFrame]:
        """``profile_df`` of ``_write_inserts`` for a batch ``df``: the raw
        keyed batch when ``prepared`` was preCombined, else None — an
        uncombined ``prepared`` is a plain projection, as cheap to count."""
        return with_key_columns(df, self.tc) if combined else None

    def _commit_schema(self, prepared: DataFrame,
                       active: Optional[list] = None) -> StructType:
        drop = {FG, API_DELETE}
        new = StructType([f for f in prepared.schema.fields if f.name not in drop])
        return self._evolve(self.stored_schema(active), new)

    # ==================================================================
    # WRITE OPERATORS
    # ==================================================================
    def bulk_insert(self, df: DataFrame, sort_mode: Optional[str] = None,
                    commit_extras: Optional[dict] = None,
                    _combine: Optional[bool] = None) -> str:
        """First-load path (SparkRDDWriteClient.java:223-244,
        SparkBulkInsertHelper.java + sort modes §2.4).  No index lookup; sizes
        new files to target; GLOBAL_SORT default → key-sorted files whose
        min/max ranges make the BLOOM-style index prune hard.  ``_combine``
        overrides ``combine_before_insert`` (the prepped variant)."""
        return self._insert(
            df, BULK_INSERT, commit_extras, _combine, pack_small_files=False,
            sort_mode=sort_mode or self.cfg.bulk_insert_sort_mode)

    def insert(self, df: DataFrame,
               commit_extras: Optional[dict] = None,
               _combine: Optional[bool] = None) -> str:
        """Insert with small-file bin packing (SparkRDDWriteClient.java:172-178;
        packing = UpsertPartitioner small-file handling).  No key-based
        routing: duplicate keys are *not* merged (reference semantics).
        ``_combine`` overrides ``combine_before_insert`` (the prepped
        variant)."""
        return self._insert(
            df, INSERT, commit_extras, _combine,
            pack_small_files=(self.tc.table_type == COPY_ON_WRITE),
            sort_mode=SORT_PARTITION)

    def _insert(self, df: DataFrame, operation: str,
                commit_extras: Optional[dict], combine: Optional[bool],
                **write_kw) -> str:
        if combine is None:
            combine = self.cfg.combine_before_insert
        with self._commit(tl.COMMIT, operation, extra=commit_extras) as op:
            op.stats, op.schema = self._write_inserts(
                op, self._prepare(df, op.instant.time, combine),
                profile_df=self._keyed_profile(df, combine), **write_kw)
        return op.instant.time

    def _write_inserts(self, op: _CommitOp, prepared: DataFrame,
                       pack_small_files: bool, sort_mode: str,
                       profile_df: Optional[DataFrame] = None,
                       combine_in_write: bool = False,
                       seed_key_index: bool = False):
        """Shared insert path: profile → bucket plan → assign → write.
        Returns ``(stats, schema)``.
        Packed small file groups are rewritten (old ∪ new) — COW semantics;
        groups frozen by a pending clustering plan are never packed.
        ``profile_df``: cheaper pre-combine frame to count (same partitions,
        counts ≥ the written rows — bucket sizing is statistical anyway).
        ``combine_in_write``: caller skipped preCombine; fold it into the
        write shuffle (one exchange total — see precombine_dedup_in_bucket).
        Requires non-global keys; disabled when small-file packing unions
        stored rows (those must not dedup against the batch)."""
        # validate evolution on the raw batch BEFORE any union coerces types
        self._commit_schema(prepared, op.active)
        rec_size = avg_record_size(self.meta, self.timeline,
                                   self.cfg.record_size_estimate,
                                   active=op.active)
        # GLOBAL_SORT all-new-bucket loads (bulk_insert / insert_overwrite*)
        # fold the range-split key sampling AND split-point selection into
        # the profile aggregation: the driver collects O(buckets) split
        # points, never raw sampled keys (fused_profile_splits).
        sample_splits = None
        src = profile_df if profile_df is not None else prepared
        if (sort_mode == SORT_GLOBAL and not pack_small_files
                and META_RECORD_KEY in src.columns):
            from .plans.buckets import fused_profile_splits
            rows = fused_profile_splits(
                src, META_PARTITION_PATH, META_RECORD_KEY, rec_size,
                self.cfg.target_file_size_bytes).collect()
            profile = {r[0]: r[1] for r in rows}
            sample_splits = {r[0]: r[2] for r in rows}
        else:
            profile = {r[0]: r[1] for r in
                       src.groupBy(META_PARTITION_PATH).count().collect()}
        if pack_small_files:
            from .services.clustering import pending_clustering_fgs
            plan = plan_insert_buckets(
                profile, op.view, self.cfg, rec_size,
                exclude_fgs=set(pending_clustering_fgs(self, op.active)))
        else:
            plan = plan_insert_buckets(profile, None, self.cfg, rec_size,
                                       pack_small_files=False)
        # GLOBAL_SORT into all-new buckets (bulk loads): assign by key RANGE
        # (sampled split points) instead of key hash — each written file then
        # owns a disjoint key interval, so manifest min/max stats make the
        # BLOOM-style write index and read_keys point lookups maximally
        # selective.  Steady one-bucket-per-partition plans skip the sample.
        if (sample_splits is not None
                and plan and all(b.is_new_fg for b in plan)):
            from .plans.buckets import (assign_insert_buckets_range,
                                        range_split_points)
            splits = range_split_points(plan, sample_splits)
            assigned = assign_insert_buckets_range(
                self.spark, prepared, plan,
                META_PARTITION_PATH, META_RECORD_KEY, FG, splits)
        else:
            assigned = assign_insert_buckets(self.spark, prepared, plan,
                                             META_PARTITION_PATH,
                                             META_RECORD_KEY, FG)
        assigned = assigned.withColumn(META_FILE_NAME, F.col(FG))
        fg_map = {b.file_group: b.partition for b in plan}

        packed = [b for b in plan if not b.is_new_fg]
        if combine_in_write:
            # single-exchange dedup+write: cluster the batch by file group
            # once, dedup inside those partitions (twins collocate — bucket
            # assignment hashes the record key), write pre-partitioned.
            par = self.spark.sparkContext.defaultParallelism
            n = max(1, min(len(fg_map), self.cfg.write_parallelism or par))
            assigned = assigned.repartition(n, F.col(FG))
            assigned = precombine_dedup_in_bucket(assigned, self.tc, FG)
        if packed:
            # stored rows must NOT dedup against the batch (insert keeps
            # duplicate twins) — union after the fused dedup; the union
            # breaks the clustering, so the write re-exchanges below
            old = self._read_fg_files(op.view, {b.file_group for b in packed},
                                      active=op.active)
            assigned = old.unionByName(assigned, allowMissingColumns=True)

        sort_cols = self._sort_cols(sort_mode)
        schema = self._commit_schema(assigned, op.active)
        # INMEMORY index bootstrap: a write into an EMPTY table IS the whole
        # table, so the write frame's (key, partition, fg) columns are the
        # key index (the reference likewise feeds write locations back,
        # HoodieIndex.updateLocation).  Empty-table-only, and only when the
        # caller opts in: the persist adds columnar-cache encode cost that
        # pays off when the next op is another upsert, not on bulk loads.
        seed_index = (seed_key_index
                      and self._index_cache_on
                      and not op.view.latest_slices())
        if seed_index:
            assigned = assigned.persist()
        if combine_in_write and not packed:
            stats = write_instant_files(
                assigned, self.meta, op.instant.time, fg_map, self.cfg,
                sort_cols=[FG] + (sort_cols or []), pre_partitioned=True)
        else:
            stats = write_instant_files(assigned, self.meta, op.instant.time,
                                        fg_map, self.cfg,
                                        sort_cols=sort_cols)
        if seed_index:
            self._invalidate_key_index()
            idx = assigned.selectExpr(*map(sql_ident, MERGE_KEY),
                                      f"{FG} AS {FG_COL}")
            if not combine_in_write or packed:
                # the fused in-bucket preCombine already left one row per
                # (key, partition, fg); otherwise dedup like _load_index
                idx = idx.dropDuplicates()
            idx = idx.persist()
            idx.count()
            assigned.unpersist()
            self._key_index = idx
            self._key_index_parts = {b.partition for b in plan}
            # commit not completed yet — the caller revalidates the sentinel
            # into a real token right after its _complete()
            self._key_index_valid_token = ("pending", op.instant.time)
        return stats, schema

    def _sort_cols(self, sort_mode: str) -> Optional[list[str]]:
        if sort_mode == SORT_GLOBAL:
            return [META_PARTITION_PATH, META_RECORD_KEY]
        if sort_mode == SORT_PARTITION:
            return [META_RECORD_KEY]
        return None

    def upsert_prepped(self, df: DataFrame,
                       commit_extras: Optional[dict] = None) -> str:
        """upsertPreppedRecords (SparkRDDWriteClient.java:162-167): caller
        already deduplicated — skip the preCombine window."""
        return self._upsert_impl(df, UPSERT, commit_extras=commit_extras,
                                 combine=False)

    def bulk_insert_prepped(self, df: DataFrame,
                            commit_extras: Optional[dict] = None) -> str:
        """bulkInsertPreppedRecords (SparkRDDWriteClient.java:238-244)."""
        return self.bulk_insert(df, commit_extras=commit_extras,
                                _combine=False)

    def insert_prepped(self, df: DataFrame,
                       commit_extras: Optional[dict] = None) -> str:
        """insertPreppedRecords (SparkRDDWriteClient.java:182-188): caller
        already combined — skip the optional pre-insert dedup."""
        return self.insert(df, commit_extras=commit_extras, _combine=False)

    def delete_prepped(self, keys_df: DataFrame,
                       commit_extras: Optional[dict] = None) -> str:
        """deletePreppedRecords: keys already unique — skip the dedup stage."""
        return self._upsert_impl(keys_df.withColumn(API_DELETE, F.lit(True)),
                                 DELETE, commit_extras=commit_extras,
                                 combine=False)

    def upsert(self, df: DataFrame,
               commit_extras: Optional[dict] = None) -> str:
        """The heart (SparkRDDWriteClient.java:149-159 →
        BaseSparkCommitActionExecutor.java:112-145): preCombine → index tag →
        partition into update/insert buckets → COW merge-rewrite of affected
        file groups / MOR delta append."""
        return self._upsert_impl(df, UPSERT, commit_extras=commit_extras)

    def delete(self, keys_df: DataFrame,
               commit_extras: Optional[dict] = None) -> str:
        """Hard delete by key (SparkRDDWriteClient.java:248-253,
        SparkDeleteHelper.java:49-105): dedup keys → tag → keep only existing
        → merge that drops them (COW) or delete-marker delta rows (MOR)."""
        return self._upsert_impl(keys_df.withColumn(API_DELETE, F.lit(True)),
                                 DELETE, commit_extras=commit_extras)

    def _upsert_impl(self, df: DataFrame, operation: str,
                     commit_extras: Optional[dict] = None,
                     combine: Optional[bool] = None) -> str:
        """Upsert and delete as one chain: view → tag → route → write →
        commit (BaseSparkCommitActionExecutor.java:112-145).  A batch into
        an empty table is all inserts; every other batch goes through
        _write_batch.  ``combine`` overrides ``combine_before_upsert`` (the
        prepped variants) without touching the shared ``cfg``."""
        if combine is None:
            combine = self.cfg.combine_before_upsert
        is_delete = operation == DELETE
        action = (tl.DELTA_COMMIT if self.tc.table_type == MERGE_ON_READ
                  else tl.COMMIT)
        with self._commit(action, operation, extra=commit_extras) as op:
            prepared = self._prepare(df, op.instant.time, combine=combine)
            # validate evolution on the raw batch BEFORE any union coerces
            # types
            self._commit_schema(prepared, op.active)
            # the cache-validity token, the pending-compaction and frozen-
            # group sets and the file-system view all derive from op's one
            # listing, so token ≡ view state by construction.  A daemon
            # commit landing after it is invisible to all of them
            # consistently; the next batch's listing sees it and
            # over-invalidates the cache (safe direction).
            slices = op.view.latest_slices()
            if self._index_cache_on and self._key_index is not None:
                if self._token_still_valid(self._key_index_valid_token,
                                           op.token):
                    # archival-only shrink keeps the cache; re-stamp so the
                    # equality checks in the lanes and the own-commit
                    # extension all work from op.token
                    self._key_index_valid_token = op.token
                else:
                    self._invalidate_key_index()
            if not is_delete and not slices:
                # first commit into an empty table: every record is an
                # insert — skip index load, tagging, and the merge window
                # (tagging against an empty index yields the same routing,
                # one table scan and one shuffle more expensive).  With
                # non-global keys the preCombine dedup also folds into the
                # write's own file-group exchange (one shuffle total).
                from .indexing import is_global
                fuse = combine and not is_global(self.cfg.index_type)
                if fuse:
                    prepared = self._prepare(df, op.instant.time,
                                             combine=False)
                op.stats, op.schema = self._write_inserts(
                    op, prepared,
                    pack_small_files=(self.tc.table_type == COPY_ON_WRITE),
                    sort_mode=SORT_PARTITION,
                    profile_df=self._keyed_profile(df, combine and not fuse),
                    combine_in_write=fuse, seed_key_index=True)
                # the index _write_inserts seeded from this very commit's
                # write frame holds exactly the pre-write table plus our
                # own commit
                op.keep_index = (self._key_index_valid_token
                                 == ("pending", op.instant.time))
            else:
                try:
                    op.stats, op.schema, wrote_inserts = self._write_batch(
                        op, slices, prepared, is_delete, combine)
                finally:
                    prepared.unpersist()      # _write_batch persists it
                # an update-only commit rewrites/appends WITHIN existing
                # file groups — every cached location stays correct, so the
                # cache survives its own commit
                op.keep_index = (not is_delete and not wrote_inserts
                                 and self._key_index is not None)
        return op.instant.time

    def _pending_compactions(self, active: list) -> dict[str, str]:
        """file group → newest pending compaction instant, from the SAME
        snapshot as the view: every compaction is either (a) pending in the
        snapshot → logs get bumped to its instant, or (b) completed in it →
        the view's latest slice IS its new base.  (A mixed read order loses
        writes: stale view base + empty pending → orphaned log.)"""
        pending: dict[str, str] = {}
        for p in tl.pending_from(active):
            if p.action != tl.COMPACTION:
                continue
            # the async compactor may TRANSITION this instant between our
            # listing and this read (requested → inflight deletes the
            # requested file; completion lands as a .commit).  Chase the
            # plan through the states; a compaction that completed AFTER
            # the snapshot must still bump logs to its instant — the
            # snapshot view predates its new base, so (a) applies, with the
            # fgs taken from the completed commit's write stats.
            plan = None
            for st in (p.state, tl.REQUESTED, tl.INFLIGHT):
                try:
                    plan = self.timeline.read_metadata(
                        tl.Instant(p.time, tl.COMPACTION, st))
                    break
                except FileNotFoundError:
                    continue
            if plan is not None:
                fgs = [op["file_group"] for op in plan.get("operations", [])]
            else:
                try:
                    done_md = self.timeline.read_metadata(
                        tl.Instant(p.time, tl.COMMIT, tl.COMPLETED))
                except FileNotFoundError:
                    continue  # rolled back/unscheduled mid-race
                fgs = [s["file_group"] for s in done_md.get("write_stats", [])]
            for fg in fgs:
                pending[fg] = max(pending.get(fg, ""), p.time)
        return pending

    def _write_batch(self, op: _CommitOp, slices: list, prepared: DataFrame,
                     is_delete: bool, combine: bool):
        """Tag, route and write a batch into a non-empty table.  Returns
        ``(stats, schema, wrote_inserts)``.  COW takes one of three shapes
        of the tag → profile → route → merge chain
        (BaseSparkCommitActionExecutor.java:112-145):

        - **fused profile** (_upsert_cow_fast): broadcastable, preCombined,
          non-global, new-version-wins, no bootstrap groups, and the probe
          did not pick the warm pinned index; tagging fuses into the write.
        - **exact tag**: every other broadcastable, preCombined batch under
          a new-version-wins payload (warm pinned index, global indexes,
          bootstrap groups); one tag-profile action gives the exact
          rewrite set for the anti-join rewrite.
        - **window merge** (_upsert_cow): the rest — over-cap batches,
          old-vs-new payloads, uncombined batches.

        MOR batches are tagged here and append deltas (_upsert_mor_fast).
        Nothing here is a setting: the shape follows from the table, the
        payload, the batch size against ``INDEX_BROADCAST_MAX_ROWS``, and
        the previous batch's spread.

        Updates and deletes into file groups a scheduled clustering plan
        froze are rejected (SparkRejectUpdateStrategy), checked exactly
        against the tagged batch in each shape."""
        from .indexing import is_global
        from .services.clustering import pending_clustering_fgs
        cap = INDEX_BROADCAST_MAX_ROWS
        view = op.view
        frozen_fgs = set(pending_clustering_fgs(self, op.active))
        prof, n_batch = None, None
        # every lane reads prepared more than once (profile or size probe,
        # the tagging join's broadcast probe and stream side, the write)
        prepared.persist()
        if (self.tc.table_type == COPY_ON_WRITE
                and not is_global(self.cfg.index_type)
                and self._new_version_wins()
                and combine
                and not any(f.external for sl in slices
                            for f in sl.base_files)):
            prof, n_batch = self._probe_fast_lane(op, prepared)
            if prof is not None and n_batch <= cap:
                return self._upsert_cow_fast(op, prepared, prof, is_delete,
                                             frozen_fgs)
            # the warm pinned index takes the exact tag below; a batch too
            # large to broadcast takes the window merge
        if (self._index_cache_on and self._key_index is not None
                and self._key_index_valid_token == op.token
                and set(view.partitions()) <= self._key_index_parts):
            # a warm cached index (INMEMORY or SIMPLE) covering every
            # table partition makes the pre-tag workload profile
            # redundant — any batch partition is either covered or
            # brand-new (no stored records → a null-fg tag is already the
            # correct routing)
            index_df = self._key_index
        elif self._index_cache_on:
            # cold cached index: load the whole-table key index in one go —
            # it gets pinned for every later batch anyway, so the pre-tag
            # workload profile (whose only use here is picking which
            # partitions to load) is pure overhead
            index_df = self._load_index(
                view, sorted(view.partitions()), None, op.token)
        else:
            # workload profile (BaseSparkCommitActionExecutor.java:122-127)
            # + key range for BLOOM-style pruning; reused from the fast-lane
            # probe when that already ran it
            if prof is None:
                prof = self._batch_profile(prepared)
            key_range = ((min(r[2] for r in prof), max(r[3] for r in prof))
                         if prof else None)
            index_df = self._load_index(view, [r[0] for r in prof],
                                        key_range, op.token)
            n_batch = sum(r[1] for r in prof)
        if n_batch is None:
            # broadcast-size guard: a cold first batch can be arbitrarily
            # large; limit(cap+1) stops after cap+1 rows instead of
            # scanning it
            n_batch = prepared.limit(cap + 1).count()
        upp = self.cfg.global_index_update_partition_path
        if n_batch <= cap:
            # broadcast path pre-dedups the pruned index side per file
            # group — the join can't multiply rows per (input row, fg)
            tagged = tag_locations(prepared, index_df, self.cfg.index_type,
                                   broadcast_incoming=True,
                                   update_partition_path=upp,
                                   index_unique=self._index_cache_on)
        else:
            # shuffle path: the index may map one key to the same file
            # group several times (MOR base+log, duplicate keys in a
            # file); collapse the join-induced multiplication per
            # (input row, file group) — keyed by uid so genuine duplicate
            # input rows survive when preCombine is off
            uid = "_hoodie_row_uid"
            tagged = tag_locations(
                prepared.withColumn(uid, F.monotonically_increasing_id()),
                index_df, self.cfg.index_type, broadcast_incoming=False,
                update_partition_path=upp,
            ).dropDuplicates([uid, FG_COL]).drop(uid)
        if self.tc.table_type == MERGE_ON_READ:
            return self._upsert_mor_fast(op, slices, tagged, is_delete,
                                         frozen_fgs)
        tagged = tagged.persist()
        try:
            update_fgs, insert_counts = self._tag_profile(tagged, frozen_fgs,
                                                          is_delete)
            if self._new_version_wins() and combine and n_batch <= cap:
                # the key set comes from the TAGGED batch: a global index
                # moves a row to its stored partition (or splits a partition
                # move into a delete there plus an insert), so the incoming
                # keys would miss the stored row that must die
                return self._route_rewrite(
                    op, tagged, tagged.selectExpr(*map(sql_ident, MERGE_KEY)),
                    update_fgs, insert_counts, is_delete)
            updates, inserts = self._split_tagged(tagged, is_delete)
            stats, schema = self._upsert_cow(op, updates, inserts, update_fgs,
                                             insert_counts, frozen_fgs)
            return stats, schema, bool(insert_counts)
        finally:
            tagged.unpersist()

    def _tag_profile(self, tagged: DataFrame, frozen_fgs: set,
                     is_delete: bool):
        """The workload profile of a tagged batch (WorkloadProfile.java:
        33-50), one action over the persisted ``tagged``:
        ``({updated file group: partition}, {partition: insert rows})``.
        The updated groups are exact, so an update into a group a pending
        clustering plan froze is rejected here.  A delete has no inserts:
        deletes of absent keys are no-ops."""
        rows = tagged.groupBy(META_PARTITION_PATH, FG_COL).count().collect()
        update_fgs = {r[1]: r[0] for r in rows if r[1] is not None}
        self._reject_frozen(frozen_fgs & set(update_fgs))
        insert_counts = {} if is_delete else \
            {r[0]: r[2] for r in rows if r[1] is None}
        return update_fgs, insert_counts

    def _probe_fast_lane(self, op: _CommitOp, prepared: DataFrame):
        """The COW fast lane's pre-write action, chosen per batch from the
        previous batch's spread.  Returns ``(profile rows or None, batch
        rows)``; the row count is capped at cap+1 by the warm probe.  Both
        actions run on the persisted ``prepared``, which this lane requires
        to be preCombined, so rows == keys.

        - ``warm_tag``: with fewer batch KEYS than HALF the file groups (the
          point-fix/CDC/GDPR shape) and a pinned index valid at this
          batch's token, a bounded limit(cap+1) size probe; _write_batch's
          exact tag over the PINNED index then gives the EXACT rewrite set
          (measured 17 vs 210 groups, ~40% faster wall at sf0.1;
          BASELINE.md).  No coverage precondition: _write_batch's
          _load_index call extends the pinned index to every view
          partition incrementally.
        - ``profile`` otherwise, and on the first batch (no history): one
          workload-profile action over the batch; tagging fuses into the
          write job and the rewrite set is the manifest-stats superset,
          which is cheaper when every group is touched anyway."""
        cap = INDEX_BROADCAST_MAX_ROWS
        n_last = self._last_batch_keys
        warm = (n_last is not None and self._index_cache_on
                and self._key_index is not None
                and self._key_index_valid_token == op.token
                and n_last < 0.5 * max(1, op.view.group_count()))
        self._last_probe_mode = "warm_tag" if warm else "profile"
        if warm:
            n_probe = prepared.limit(cap + 1).count()
            # Recorded unconditionally: over the cap it is a lower bound
            # (cap+1) that correctly flips big-batch workloads back toward
            # profile routing.
            self._last_batch_keys = n_probe
            if n_probe > cap:
                self._last_probe_mode = "general"
            return None, n_probe
        prof = self._batch_profile(prepared)
        self._last_batch_keys = n_batch = sum(r[1] for r in prof)
        return prof, n_batch

    @staticmethod
    def _batch_profile(src: DataFrame) -> list:
        """Per-partition workload profile of the keyed batch, one Spark
        action: (partition, rows, min key, max key)."""
        rk = sql_ident(META_RECORD_KEY)
        return src.groupBy(META_PARTITION_PATH).agg(
            *[F.expr(e) for e in ("count(1) AS n", f"min({rk}) AS mn",
                                  f"max({rk}) AS mx")]).collect()

    @staticmethod
    def _split_tagged(tagged: DataFrame, is_delete: bool):
        """(updates routed to their file group in ``_fg``, inserts).  A
        delete has no inserts: deletes of absent keys are no-ops."""
        cols = [sql_ident(c) for c in tagged.columns if c != FG_COL]
        updates = tagged.filter(f"{FG_COL} IS NOT NULL").selectExpr(
            *cols, f"{FG_COL} AS {FG}")
        inserts = tagged.filter(f"{FG_COL} IS NULL").selectExpr(*cols)
        return updates, inserts.limit(0) if is_delete else inserts

    @staticmethod
    def _route(df: DataFrame, fg_sql: str) -> DataFrame:
        """The batch side of an anti-join rewrite, in one filter and one
        projection: rows whose file group ``fg_sql`` (a SQL expression
        over ``df``) is known and that are not deletes, carrying it in
        ``_fg`` and ``_hoodie_file_name``, without the tag and API-delete
        columns."""
        cols = df.columns
        fn = f"{fg_sql} AS {META_FILE_NAME}"
        out = [fn if c == META_FILE_NAME else sql_ident(c) for c in cols
               if c not in (FG_COL, API_DELETE, FG)]
        out.append(f"{fg_sql} AS {FG}")
        if META_FILE_NAME not in cols:
            out.append(fn)
        return df.filter(f"{fg_sql} IS NOT NULL AND {live_sql(cols)}") \
                 .selectExpr(*out)

    @staticmethod
    def _reject_frozen(hit: set) -> None:
        """Reject updates into file groups frozen by a pending clustering
        plan (SparkRejectUpdateStrategy.java:41-62)."""
        if hit:
            from .services.clustering import ClusteringUpdateConflict
            raise ClusteringUpdateConflict(
                f"update touches file groups {sorted(hit)[:3]} in a "
                "pending clustering plan; run_clustering() first or roll "
                "the plan back")

    def _check_frozen(self, tagged_updates: DataFrame, fg_col: str,
                      frozen_fgs: set) -> None:
        """_reject_frozen for a batch whose touched groups are not known
        driver-side: a bounded probe on the tagged batch, run only when a
        plan is pending."""
        if frozen_fgs:
            self._reject_frozen({r[0] for r in (
                tagged_updates.filter(F.col(fg_col).isin(list(frozen_fgs)))
                .select(fg_col).limit(1).collect())})

    def _new_version_wins(self) -> bool:
        """True when the arriving batch's version wins unconditionally per
        key (OVERWRITE_LATEST semantics) — the payloads that need old-vs-new
        comparison (DEFAULT's event-time guard, OverwriteNonDefaults' field
        fills) disqualify the anti-join rewrite lanes."""
        from .config import PAYLOAD_OVERWRITE_NON_DEFAULTS
        return not ((self.tc.payload == PAYLOAD_DEFAULT
                     and self.tc.precombine_field)
                    or self.tc.payload == PAYLOAD_OVERWRITE_NON_DEFAULTS)

    def _anti_join_rewrite(self, op: _CommitOp, fresh: DataFrame,
                           batch_keys: DataFrame, rewrite_fgs: set,
                           fg_map: dict):
        """Shared COW broadcast anti-join rewrite kernel: stored rows of the
        rewrite set pass through IN THEIR SCAN PARTITIONS minus the batch's
        keys (broadcast LEFT ANTI — the table side never shuffles); only the
        small ``fresh`` side is clustered by file group.  The write-
        parallelism guard re-spreads tiny rewrite sets so encoding stays
        parallel early in table life; at scale groups approach target size
        and the table side streams untouched.  Exactly one exchange.
        ``fresh`` comes shaped for the write (``_route``)."""
        parts = []
        if rewrite_fgs:
            old = self._read_fg_files(op.view, rewrite_fgs, active=op.active)
            parts.append(drop_deleted(
                old.join(F.broadcast(batch_keys), on=MERGE_KEY,
                         how="left_anti")))
        rewrite_slices = [sl for sl in op.view.latest_slices()
                          if sl.file_group in rewrite_fgs]
        rewrite_bytes = sum(sl.base_size + sl.log_size
                            for sl in rewrite_slices)
        n_rewrite_files = sum(len(sl.base_files) for sl in rewrite_slices)
        par = self.spark.sparkContext.defaultParallelism
        n_buckets = max(1, min(len(fg_map) or 1, par))
        if self.cfg.write_parallelism:
            n_buckets = min(n_buckets, self.cfg.write_parallelism)
        # Re-spread (one exchange over old ∪ fresh) only when it buys
        # something: (a) the rewrite set is so few files that the scan side
        # alone can't keep the executors busy, (b) passthrough batches
        # have accumulated extra per-group files (each passthrough write may
        # add ~1 file/group) and a consolidating shuffle restores the
        # one-file-per-group layout, or (c) the rewrite set is SMALL-FILE
        # BOUND (avg group ≪ target): passthrough would write TWO part
        # files per touched group per batch (scan-side task + fresh-side
        # task land in the same _fg dir separately), and with tiny groups
        # the per-file open/footer overhead — not bytes — dominates the
        # write, so halving the file count beats avoiding a cheap exchange
        # (measured: 10×1% batches over 83 ~0.5 MB groups drop ~25% wall).
        # Otherwise the table side passes through in its scan partitions —
        # zero exchanges on the big side — which is the only shape that
        # survives 100×: at scale groups approach target_file_size, (c) is
        # false and rewrite_bytes trips the first guard anyway, so the big
        # side never shuffles.
        small_file_bound = (n_rewrite_files > 0
                            and rewrite_bytes / n_rewrite_files
                            < self.cfg.target_file_size_bytes // 8)
        respread = (rewrite_bytes < par * 24 * 1024 * 1024
                    and (small_file_bound
                         or n_rewrite_files < min(par, 2 * len(rewrite_fgs)
                                                  if rewrite_fgs else par)
                         or n_rewrite_files >= 3 * max(1, len(rewrite_fgs))))
        if not respread:
            fresh = fresh.repartition(n_buckets, FG)
        merged = fresh
        for p in parts:
            merged = p.unionByName(merged, allowMissingColumns=True)
        if respread:
            merged = merged.repartition(n_buckets, FG)
        schema = self._commit_schema(merged, op.active)
        stats = write_instant_files(merged, self.meta, op.instant.time,
                                    fg_map, self.cfg,
                                    sort_cols=[FG, META_RECORD_KEY],
                                    pre_partitioned=True,
                                    ensure_fgs=rewrite_fgs)
        return stats, schema

    def _upsert_cow_fast(self, op: _CommitOp, prepared: DataFrame, prof: list,
                         is_delete: bool, frozen_fgs: set):
        """COW fused-profile lane, the steady-state writer shape at 100 TB:
        scan only the touched slice set, broadcast the batch key set for the
        anti-join, zero full-table shuffles, one file per touched group.
        Returns ``(stats, schema, wrote_inserts)``.

        The batch profile prunes the rewrite set to a superset of the
        touched groups (_stats_rewrite_set); exact routing happens through
        the index join, fused into the write job.  The per-partition batch
        counts bound the inserts from above."""
        fg_map, bloom_fgs = self._stats_rewrite_set(op.view, prof, prepared)
        insert_counts = {r[0]: r[1] for r in prof}
        mns = [r[2] for r in prof if r[2] is not None]
        mxs = [r[3] for r in prof if r[3] is not None]
        key_range = (min(mns), max(mxs)) if mns else None
        index_df = self._load_index(op.view, sorted(insert_counts), key_range,
                                    op.token, only_fgs=bloom_fgs)
        # tagged stays UNPERSISTED in this shape: the routing consumes it
        # exactly once (a single coalesce projection), so the whole tag
        # pipeline — broadcast the batch, semi-prune the index scan,
        # broadcast the locations back — fuses into the one write job.
        # Only the paths with a second consumer (the frozen-group probe,
        # the multi-bucket range-join assignment) persist it.
        tagged = tag_locations(prepared, index_df, self.cfg.index_type,
                               broadcast_incoming=True,
                               index_unique=self._index_cache_on)
        try:
            if frozen_fgs & set(fg_map):
                # the stats-pruned rewrite superset may overlap a pending
                # clustering plan spuriously — probe the exact tagged
                # locations; once the probe proves no batch key lives in a
                # frozen group, the frozen groups are dropped from the
                # rewrite set (no-op pass-through rewrites would version
                # them and waste IO)
                tagged.persist()
                self._check_frozen(tagged, FG_COL, frozen_fgs)
                fg_map = {fg: p for fg, p in fg_map.items()
                          if fg not in frozen_fgs}
            # no dropDuplicates: this lane requires a preCombined batch, so
            # prepared is already unique per MERGE_KEY — skipping the dedup
            # drops one exchange+aggregate pair from the broadcast build
            # (the hash build collapses duplicates anyway)
            return self._route_rewrite(
                op, tagged, prepared.selectExpr(*map(sql_ident, MERGE_KEY)),
                fg_map, insert_counts, is_delete)
        finally:
            if tagged.is_cached:
                tagged.unpersist()

    def _route_rewrite(self, op: _CommitOp, tagged: DataFrame,
                       batch_keys: DataFrame, fg_map: dict[str, str],
                       insert_counts: dict[str, int], is_delete: bool):
        """Route a tagged batch and write it through the anti-join rewrite
        (the fused-profile and exact-tag shapes).  ``fg_map`` is the
        rewrite set ({file group: partition}), ``insert_counts`` sizes the
        insert buckets per partition (over-planned buckets stay empty) and
        ``batch_keys`` holds the keys whose stored versions die.  Returns
        ``(stats, schema, wrote_inserts)``.

        Inserts open new hash-bucketed file groups; no small-file packing
        here (clustering restores layout), so the plan has no phantom
        rewrites.  A ``tagged`` this persists for a second read is left
        cached for the caller to release."""
        rewrite_fgs = set(fg_map)
        if is_delete or not insert_counts:
            # every row already carries its tagged group — no bucket
            # planning (a delete, or an update-only batch known exactly)
            fresh = self._route(tagged, FG_COL)
        else:
            rec_size = avg_record_size(self.meta, self.timeline,
                                       self.cfg.record_size_estimate,
                                       active=op.active)
            plan = plan_insert_buckets(insert_counts, op.view, self.cfg,
                                       rec_size, pack_small_files=False)
            fg_map = {**fg_map, **{b.file_group: b.partition for b in plan}}
            parts = [b.partition for b in plan]
            if parts and len(parts) == len(set(parts)):
                # steady-state shape (one insert bucket per partition):
                # update-vs-insert routing is ONE projection — tagged fg
                # if the key exists, else the partition's planned bucket
                # (mirrors assign_insert_buckets' map-lookup fast case;
                # the null filter mirrors its inner-join drops)
                fresh = self._route(
                    tagged, f"coalesce({FG_COL}, {bucket_map_sql(plan)}"
                            f"[{sql_ident(META_PARTITION_PATH)}])")
            else:
                if not tagged.is_cached:
                    tagged.persist()
                updates, inserts = self._split_tagged(tagged, False)
                assigned = assign_insert_buckets(
                    self.spark, inserts, plan,
                    META_PARTITION_PATH, META_RECORD_KEY, FG)
                fresh = self._route(
                    updates.unionByName(assigned, allowMissingColumns=True),
                    FG)
        stats, schema = self._anti_join_rewrite(op, fresh, batch_keys,
                                                rewrite_fgs, fg_map)
        return stats, schema, any(s.file_group not in rewrite_fgs
                                  for s in stats)

    def _stats_rewrite_set(self, view: FileSystemView, prof: list,
                           prepared: DataFrame):
        """Rewrite set of the profiled fast lane, pruned driver-side:
        ``({file group: partition}, bloom-positive groups or None)``.

        Key ranges first: the batch's per-partition key range against the
        manifest stats (the BLOOM index's min/max ranges,
        fsview.may_hold_keys) — a superset of the touched groups by
        construction, since a stored key is always inside its file's key
        range.  Then, for SMALL batches on tables with a bloom sidecar,
        the batch's keys are collected (one bounded action, ≤
        BLOOM_PRUNE_MAX_BATCH_KEYS rows) and range-surviving slices
        whose bloom proves none present are dropped — on hash/unsorted
        layouts ranges all overlap and this is what bounds the rewrite
        set.  A fresh bloom has no false negatives (stale/logged slices are
        kept), so the set stays a superset."""
        by_part = {r[0]: (r[2], r[3]) for r in prof}
        rewrite = [sl for sl in view.latest_slices()
                   if sl.partition in by_part
                   and may_hold_keys(sl, *by_part[sl.partition])]
        bloom_fgs = None
        if (len(rewrite) > 8 and sum(r[1] for r in prof)
                <= BLOOM_PRUNE_MAX_BATCH_KEYS):
            from .bloom import load_blooms, prune_slices_by_bloom
            blooms = load_blooms(self.meta)
            if blooms:
                ks = [r[0] for r in
                      prepared.select(META_RECORD_KEY).distinct().collect()]
                rewrite = prune_slices_by_bloom(rewrite, blooms, ks)
                # every stored location of a batch (key, partition) is in a
                # bloom-positive slice — the tagging scan can skip the rest
                bloom_fgs = {sl.file_group for sl in rewrite}
        return {sl.file_group: sl.partition for sl in rewrite}, bloom_fgs

    def _upsert_cow(self, op: _CommitOp, updates: DataFrame,
                    inserts: DataFrame, update_fgs: dict[str, str],
                    insert_profile: dict[str, int], frozen_fgs: set):
        """COW window merge: rewrite exactly the affected file groups, old ∪
        new → per-file-group latest-wins window → write, one shuffle keyed
        by file group.  The shape for batches too large to broadcast,
        payloads that compare old against new, and uncombined batches;
        inserts pack small file groups.  Returns ``(stats, schema)``."""
        rec_size = avg_record_size(self.meta, self.timeline,
                                   self.cfg.record_size_estimate,
                                   active=op.active)
        plan = plan_insert_buckets(insert_profile, op.view, self.cfg, rec_size,
                                   pack_small_files=True,
                                   exclude_fgs=frozen_fgs)
        assigned = assign_insert_buckets(self.spark, inserts, plan,
                                         META_PARTITION_PATH, META_RECORD_KEY, FG)
        new_rows = updates.unionByName(assigned, allowMissingColumns=True) \
                          .withColumn(NEW_FLAG, F.lit(True))

        fg_map = {b.file_group: b.partition for b in plan}
        fg_map.update(update_fgs)
        rewrite_fgs = set(update_fgs) | {b.file_group for b in plan if not b.is_new_fg}

        if rewrite_fgs:
            old = self._read_fg_files(op.view, rewrite_fgs, active=op.active) \
                      .withColumn(NEW_FLAG, F.lit(False))
            merged = old.unionByName(new_rows, allowMissingColumns=True)
        else:
            merged = new_rows
        # single shuffle: cluster by file group once; the per-file-group merge
        # window (the reference merges per MergeHandle = per file group too)
        # and the one-file-per-group write both reuse that partitioning
        n_buckets = max(1, len(fg_map))
        if self.cfg.write_parallelism:
            n_buckets = min(n_buckets, self.cfg.write_parallelism)
        merged = merged.repartition(n_buckets, F.col(FG))
        merged = merge_latest(merged, self.tc, bucket_col=FG)
        merged = drop_deleted(merged).drop(API_DELETE)
        merged = merged.withColumn(META_FILE_NAME, F.col(FG))
        schema = self._commit_schema(merged, op.active)
        stats = write_instant_files(merged, self.meta, op.instant.time,
                                    fg_map, self.cfg,
                                    sort_cols=[META_RECORD_KEY],
                                    pre_partitioned=True,
                                    ensure_fgs=rewrite_fgs)
        return stats, schema

    def _mor_write_new_fgs(self, op: _CommitOp, inserts: DataFrame,
                           insert_profile: dict[str, int]):
        """MOR insert rows → brand-new base file groups (never packed into
        existing groups — logs may only attach to bases the engine owns the
        full key-set of).  Returns ``(stats, schema)``."""
        rec_size = avg_record_size(self.meta, self.timeline,
                                   self.cfg.record_size_estimate,
                                   active=op.active)
        plan = plan_insert_buckets(insert_profile, None, self.cfg, rec_size,
                                   pack_small_files=False)
        assigned = assign_insert_buckets(self.spark, inserts, plan,
                                         META_PARTITION_PATH,
                                         META_RECORD_KEY, FG)
        assigned = assigned.drop(API_DELETE) \
                           .withColumn(META_FILE_NAME, F.col(FG))
        schema = self._commit_schema(assigned, op.active)
        fg_map = {b.file_group: b.partition for b in plan}
        stats = write_instant_files(assigned, self.meta, op.instant.time,
                                    fg_map, self.cfg,
                                    sort_cols=[META_RECORD_KEY])
        return stats, schema

    def _upsert_mor_fast(self, op: _CommitOp, slices: list, tagged: DataFrame,
                         is_delete: bool, frozen_fgs: set):
        """MOR upsert: updates/deletes append delta rows to their file
        group's latest slice (HoodieAppendHandle.java:71,336-390 — parquet
        can't append, so the batch writes a few shared delta files that
        record per-group membership, writer.write_grouped_log_files);
        inserts create new base file groups.  Returns ``(stats, schema,
        wrote_inserts)``.

        Profile-free in the common case: each update row already carries
        its file group from the tagging join, and appends read nothing, so
        one Spark job writes the delta files (materializing the tagging
        cache) and the insert side is then probed on that cache for ~free
        — one full action per batch fewer than the reference's
        WorkloadProfile.java:33-50.

        Updates into METADATA_ONLY bootstrap (external) groups rewrite them
        copy-on-write into engine-owned base files (the reference likewise
        falls back to a merge handle for bootstrap file groups) — logs
        can't attach to a file the engine doesn't own the layout of.  While
        the table has such groups, one per-(partition, group) tag profile
        names the hit ones and sizes the inserts."""
        pending_compaction = self._pending_compactions(op.active)
        ext_fgs = {sl.file_group for sl in slices
                   if any(f.external for f in sl.base_files)}
        tag_obs = None
        if not ext_fgs and not is_delete and not frozen_fgs:
            # fold the insert-existence probe into the delta-write action: a
            # CollectMetrics node under the tagging cache counts untagged
            # rows while the delta write materializes it, so the
            # update-only batch (zero inserts) skips the insert-probe job.
            # UNSAFE when a pending clustering plan exists: _check_frozen's
            # bounded limit().count() probe is then the FIRST action on the
            # cache and completes the observation from a PARTIAL scan.
            from pyspark.sql import Observation
            tag_obs = Observation()
            tagged = tagged.observe(
                tag_obs, F.count(F.when(F.col(FG_COL).isNull(), True))
                .alias("n_inserts"))
        tagged = tagged.persist()
        try:
            updates, inserts = self._split_tagged(tagged, is_delete)
            stats: list[WriteStat] = []
            schema = None
            insert_profile = None           # unknown until counted
            write_deltas = True
            if ext_fgs:
                update_fgs, insert_profile = self._tag_profile(
                    tagged, frozen_fgs, is_delete)
                ext_updates = {fg: p for fg, p in update_fgs.items()
                               if fg in ext_fgs}
                if ext_updates:
                    stats, schema = self._upsert_cow(
                        op, updates.filter(F.col(FG).isin(*ext_updates)),
                        inserts.limit(0), ext_updates, {}, frozen_fgs)
                    updates = updates.filter(~F.col(FG).isin(*ext_updates))
                write_deltas = len(update_fgs) > len(ext_updates)
            else:
                self._check_frozen(updates, FG, frozen_fgs)
            if write_deltas:
                # a file group with a PENDING compaction gets its new logs
                # tagged with the compaction instant (the future base) — the
                # compactor's plan won't cover them, so they survive as logs
                # of the new slice instead of being orphaned
                # (HoodieAppendHandle's pending-compaction routing)
                base_of = {sl.file_group: sl.base_instant for sl in slices}
                for fg, ctime in pending_compaction.items():
                    base_of[fg] = max(base_of.get(fg) or "", ctime)
                upd = updates.withColumn(META_FILE_NAME, F.col(FG))
                schema = self._commit_schema(upd, op.active)
                from .writer import write_grouped_log_files
                delta = write_grouped_log_files(
                    upd, self.meta, op.instant.time,
                    {sl.file_group: sl.partition for sl in slices},
                    base_of, compression=self.cfg.parquet_compression)
                stats += delta
                if insert_profile is None and tag_obs is not None and delta:
                    # the delta write evaluated every cache partition (the
                    # observe node sits below the persist), so the metric
                    # is the EXACT insert count.  Trusted only after a
                    # non-empty delta write: with an empty update side, AQE
                    # may collapse the plan and the metrics vanish or come
                    # from a partial scan.
                    try:
                        if tag_obs.get.get("n_inserts") == 0:
                            insert_profile = {}
                    except Exception:
                        pass    # metrics lost: fall back to the probe
            if not is_delete:
                if insert_profile is None:
                    # one action doubles as existence probe and bucket
                    # profile (tagged is already cached by the delta write)
                    insert_profile = {r[0]: r[1] for r in
                                      inserts.groupBy(META_PARTITION_PATH)
                                      .count().collect()}
                if insert_profile:
                    s, schema = self._mor_write_new_fgs(op, inserts,
                                                        insert_profile)
                    stats += s
            if schema is None:
                schema = self.stored_schema(op.active)
            return stats, schema, bool(insert_profile)
        finally:
            tagged.unpersist()

    # ------------------------------------------------------------------
    def insert_overwrite(self, df: DataFrame,
                         commit_extras: Optional[dict] = None) -> str:
        """Atomically replace only the partitions present in the input
        (SparkInsertOverwriteCommitActionExecutor — replacecommit, NOT Spark's
        mode=overwrite)."""
        with self._commit(tl.REPLACE_COMMIT, INSERT_OVERWRITE,
                          extra=commit_extras) as op:
            prepared = self._prepare(df, op.instant.time,
                                     self.cfg.combine_before_insert)
            parts = [r[0] for r in
                     prepared.select(META_PARTITION_PATH).distinct().collect()]
            op.replaced = [(sl.partition, sl.file_group)
                           for sl in op.view.latest_slices(parts)]
            op.stats, op.schema = self._write_inserts(
                op, prepared, pack_small_files=False,
                sort_mode=self.cfg.bulk_insert_sort_mode)
        return op.instant.time

    def insert_overwrite_table(self, df: DataFrame,
                               commit_extras: Optional[dict] = None) -> str:
        """Replace every partition (SparkInsertOverwriteTableCommitActionExecutor)."""
        with self._commit(tl.REPLACE_COMMIT, INSERT_OVERWRITE_TABLE,
                          extra=commit_extras) as op:
            prepared = self._prepare(df, op.instant.time,
                                     self.cfg.combine_before_insert)
            op.replaced = [(sl.partition, sl.file_group)
                           for sl in op.view.latest_slices()]
            op.stats, op.schema = self._write_inserts(
                op, prepared, pack_small_files=False,
                sort_mode=self.cfg.bulk_insert_sort_mode)
        return op.instant.time

    # ------------------------------------------------------------------
    # schema commands (§2.6 AlterHoodieTable*Command equivalents)
    # ------------------------------------------------------------------
    def add_columns(self, ddl: str) -> str:
        """ALTER TABLE ADD COLUMNS (AlterHoodieTableAddColumnsCommand): a
        metadata-only commit carrying the evolved schema; existing files are
        untouched (readers project the new columns as typed nulls)."""
        new_fields = StructType.fromDDL(ddl).fields
        cur = self.stored_schema()
        if cur is None:
            raise ValueError("table has no schema yet — write data first")
        clash = {f.name for f in new_fields} & {f.name for f in cur.fields}
        if clash:
            raise ValueError(f"columns already exist: {sorted(clash)}")
        with self._commit(tl.COMMIT, "alter_add_columns",
                          post_commit=False) as op:
            op.schema = StructType(list(cur.fields) + list(new_fields))
        return op.instant.time

    def change_column(self, name: str, new_type_ddl: str) -> str:
        """ALTER TABLE CHANGE COLUMN (AlterHoodieTableChangeColumnCommand):
        compatible type widening only (int→long, float→double, decimal
        precision growth — Avro promotion rules).  Metadata-only commit; old
        narrow files are read directly with the widened schema (Spark 4
        parquet widening), so no rewrite happens."""
        from pyspark.sql.types import _parse_datatype_string
        cur = self.stored_schema()
        if cur is None:
            raise ValueError("table has no schema yet — write data first")
        by_name = {f.name: f for f in cur.fields}
        if name not in by_name:
            raise ValueError(f"no such column: {name}")
        new_t = _parse_datatype_string(new_type_ddl)
        old_t = by_name[name].dataType
        if old_t.simpleString() != new_t.simpleString() \
                and not self._is_widening(old_t, new_t):
            raise ValueError(
                f"only widening type changes are supported: "
                f"{old_t.simpleString()} -> {new_t.simpleString()}")
        fields = [StructField(f.name, new_t if f.name == name else f.dataType,
                              f.nullable) for f in cur.fields]
        with self._commit(tl.COMMIT, "alter_change_column",
                          post_commit=False) as op:
            op.schema = StructType(fields)
        return op.instant.time

    def rename_table(self, new_name: str) -> None:
        """AlterHoodieTableRenameCommand: table name lives in table config."""
        from dataclasses import replace
        self.meta.update_config(replace(self.tc, name=new_name))

    def truncate(self) -> str:
        """TRUNCATE TABLE (TruncateHoodieTableCommand.scala): drop every file
        group via one replacecommit — metadata survives, the cleaner reclaims
        the files once out of retention."""
        return self._drop_file_groups("truncate", None)

    def delete_partitions(self, partitions: Sequence[str]) -> str:
        """Logical partition drop via replacecommit
        (SparkDeletePartitionCommitActionExecutor) — readers skip the replaced
        file groups immediately; the cleaner reclaims files later."""
        return self._drop_file_groups(DELETE_PARTITION, partitions)

    def _drop_file_groups(self, operation: str,
                          partitions: Optional[Sequence[str]]) -> str:
        with self._commit(tl.REPLACE_COMMIT, operation) as op:
            op.replaced = [(sl.partition, sl.file_group)
                           for sl in op.view.latest_slices(partitions)]
            op.schema = self.stored_schema(op.active)
        return op.instant.time

    def bootstrap(self, source_path: str, mode: str = "full_record") -> str:
        """Adopt an existing parquet dataset
        (SparkBootstrapCommitActionExecutor.java:104-146,161,277).

        - ``full_record``: rewrite everything via bulk_insert.
        - ``metadata_only``: zero data rewrite.  The reference writes skeleton
          files (meta columns only) and stitches them to the originals at
          read time; our skeleton is *virtual* — each source file becomes a
          file group whose base file is marked ``external``, and the meta
          columns are derived by the keygen expressions during the scan
          (pure Catalyst projection, no extra I/O).  External files are never
          cleaned; the first upsert touching a group rewrites it into a
          normal engine-owned file.
        """
        if mode == "full_record":
            return self.bulk_insert(self.spark.read.parquet(source_path))
        if mode != "metadata_only":
            raise ValueError(f"unknown bootstrap mode {mode!r}")

        import glob as _glob
        files = sorted(
            p for p in _glob.glob(os.path.join(source_path, "**", "*.parquet"),
                                  recursive=True))
        if os.path.isfile(source_path):
            files = [source_path]
        if not files:
            raise FileNotFoundError(f"no parquet files under {source_path}")

        # one small Spark job maps file → partition value (scans only the
        # partition-expression inputs); a file spanning two partitions cannot
        # be adopted as a single file group
        src = scan_parquet(self.spark, files)
        pcol = partition_path_col(self.tc.partition_expr)
        fp = (src.withColumn("_hoodie_src_file",
                             F.regexp_replace(F.input_file_name(), "^file:", ""))
                 .withColumn(META_PARTITION_PATH, pcol)
                 .groupBy("_hoodie_src_file")
                 .agg(F.collect_set(META_PARTITION_PATH).alias("parts"),
                      F.count(F.lit(1)).alias("n")).collect())
        meta_fields = [StructField(c, StringType()) for c in META_COLUMNS]
        with self._commit(tl.COMMIT, "bootstrap") as op:
            for r in fp:
                if len(r["parts"]) != 1:
                    raise ValueError(
                        f"{r['_hoodie_src_file']} spans partitions "
                        f"{r['parts']}; use mode='full_record'")
                path = r["_hoodie_src_file"]
                op.stats.append(WriteStat(
                    partition=r["parts"][0], file_group=new_fg_id(),
                    path=os.path.abspath(path), size=os.path.getsize(path),
                    num_records=r["n"], base_instant=op.instant.time,
                    external=True))
            op.schema = self._evolve(
                self.stored_schema(op.active),
                StructType(meta_fields + list(src.schema.fields)))
        return op.instant.time

    def filter_exists(self, df: DataFrame) -> DataFrame:
        """Keep only records NOT already in the table
        (HoodieReadClient/SparkRDDWriteClient.java:131-141 → left_anti)."""
        from .indexing import is_global
        keyed = with_key_columns(df, self.tc)
        view = self.view()
        index_df = load_key_index(self.spark, self.meta, view,
                                  self.cfg.index_type, tc=self.tc)
        on = ([META_RECORD_KEY] if is_global(self.cfg.index_type)
              else MERGE_KEY)
        idx = index_df.select(*on).distinct()
        return keyed.join(idx, on=on, how="left_anti") \
                    .drop(META_RECORD_KEY, META_PARTITION_PATH)

    # ==================================================================
    # READ OPERATORS (DefaultSource.scala:111-137 dispatch)
    # ==================================================================
    def read(self, query_type: str = QUERY_SNAPSHOT,
             begin: Optional[str] = None, end: Optional[str] = None,
             as_of: Optional[str] = None,
             partitions: Optional[Sequence[str]] = None,
             merge_type: str = "payload_combine",
             path_glob: Optional[str] = None) -> DataFrame:
        """``merge_type`` (MOR snapshot only, DataSourceOptions.scala:54-61):
        ``payload_combine`` (default) key-merges logs against the base;
        ``skip_merge`` concatenates base + log rows without merging — the
        cheap mode for pipelines that re-aggregate by key anyway.
        ``path_glob`` (incremental only, DataSourceOptions.scala:87-99
        INCR_PATH_GLOB): restrict the pull to slices whose
        ``partition/file`` path matches ``*<glob>`` (Hadoop GlobPattern
        semantics — ``*`` crosses ``/``).  Filtering is slice-granular on
        the base file's path (newest log file for log-only slices), the
        same file-group coarseness as MergeOnReadIncrementalRelation:
        the glob selects partitions/file groups, not individual rows —
        a matching slice returns ALL its rows, including ones that
        arrived via log files whose own names don't match."""
        if query_type == QUERY_INCREMENTAL:
            return self._read_incremental(begin, end, partitions, path_glob)
        if path_glob is not None:
            raise ValueError("path_glob applies to incremental queries only "
                             "(INCR_PATH_GLOB); use partitions=[...] to "
                             "restrict snapshot reads")
        view = self.view(as_of=as_of or end)
        slices = view.latest_slices(partitions)
        return self._read_slices(slices,
                                 read_optimized=(query_type == QUERY_READ_OPTIMIZED),
                                 skip_merge=(merge_type == "skip_merge"),
                                 view=view)

    def read_keys(self, keys: Sequence, partitions: Optional[Sequence[str]] = None) -> DataFrame:
        """Point-lookup read with manifest-stats file skipping — the
        read-side twin of the BLOOM index's min/max pruning
        (SparkHoodieBloomIndex.java:119-140; HoodieFileIndex data skipping):
        only file slices whose [min_key, max_key] stats can contain one of
        the requested record keys are scanned.  On key-sorted layouts
        (GLOBAL_SORT bulk loads, clustered tables) the ranges are disjoint,
        so a point lookup opens O(#keys) files out of a 100 TB table instead
        of scanning it.  Slices with log files or missing stats are included
        conservatively (MOR inserts live in deltas the base stats don't
        see).  For key sets beyond a few thousand use
        ``read().join(keys_df, ...)`` — ``filterExists``-style — instead."""
        import bisect

        from .fsview import base_key_range
        ks = sorted({str(k) for k in keys})
        view = self.view()
        cand = []
        for sl in view.latest_slices(partitions):
            rng = base_key_range(sl)
            if rng is None:
                cand.append(sl)          # incomplete stats → cannot skip
                continue
            lo, hi = rng
            i = bisect.bisect_left(ks, lo)
            if i < len(ks) and ks[i] <= hi:
                cand.append(sl)
        # second-stage pruning: bloom sidecars (build_bloom_index) catch the
        # range-overlap cases a hash/unsorted layout leaves behind
        from .bloom import load_blooms, prune_slices_by_bloom
        blooms = load_blooms(self.meta)
        if blooms:
            cand = prune_slices_by_bloom(cand, blooms, ks)
        df = self._read_slices(cand, read_optimized=False, view=view)
        return df.filter(F.col(META_RECORD_KEY).isin(ks))

    def read_filtered(self, conjuncts: Sequence[tuple],
                      partitions: Optional[Sequence[str]] = None) -> DataFrame:
        """Snapshot read with column-stats data skipping: ``conjuncts`` is a
        list of ``(column, op, value)`` with op in =, <, <=, >, >=, between
        (value a (lo, hi) pair for between), ANDed together.  File slices
        whose manifest [min, max] stats (WriteConfig.stats_columns) prove a
        conjunct impossible are skipped before the scan — on a clustered /
        sorted layout a selective predicate opens a handful of files out of
        a 100 TB table.  The surviving frame is re-filtered exactly, so the
        result is identical to ``read().filter(...)`` regardless of layout.
        Slices with log files or missing stats are never skipped."""
        def excludes(lo, hi, op, v) -> bool:
            try:
                if op == "=":
                    return v < lo or v > hi
                if op == "<":
                    return lo >= v
                if op == "<=":
                    return lo > v
                if op == ">":
                    return hi <= v
                if op == ">=":
                    return hi < v
                if op == "between":
                    vlo, vhi = v
                    return vhi < lo or vlo > hi
            except TypeError:
                return False              # incomparable → cannot skip
            return False

        view = self.view()
        kept = []
        for sl in view.latest_slices(partitions):
            skip = False
            for col, op, v in conjuncts:
                stats = [f.col_stats[col] for f in sl.base_files
                         if f.col_stats and col in f.col_stats]
                if sl.log_files or len(stats) != len(sl.base_files) or not stats:
                    continue              # incomplete stats for this conjunct
                if all(excludes(lo, hi, op, v) for lo, hi in stats):
                    skip = True
                    break
            if not skip:
                kept.append(sl)
        df = self._read_slices(kept, read_optimized=False, view=view)
        for col, op, v in conjuncts:
            c = F.col(col)
            if op == "=":
                df = df.filter(c == v)
            elif op == "between":
                df = df.filter(c.between(v[0], v[1]))
            else:
                df = df.filter({"<": c < v, "<=": c <= v,
                                ">": c > v, ">=": c >= v}[op])
        return df

    def _read_fg_files(self, view: FileSystemView, fgs: set[str],
                       active: Optional[list] = None) -> DataFrame:
        slices = [sl for sl in view.latest_slices() if sl.file_group in fgs]
        return self._read_slices(slices, read_optimized=False, raw=True,
                                 view=view, active=active)

    def _read_slices(self, slices: list[FileSlice], read_optimized: bool,
                     raw: bool = False, skip_merge: bool = False,
                     cluster_by_fg: bool = False, view=None,
                     active: Optional[list] = None) -> DataFrame:
        """Clean slices (no logs) → plain base scan; dirty slices → base ∪
        deltas → latest-wins merge → drop deletes
        (MergeOnReadSnapshotRelation.scala:94-138 / HoodieMergeOnReadRDD.scala
        merged iterator, vectorized).  Only dirty file groups pay the merge
        — at scale that's the set compaction hasn't reached yet.

        ``raw`` (compaction/clustering) keeps delete rows and the API_DELETE
        column and adds the FG column; ``cluster_by_fg`` (compaction) keeps
        the output clustered by file group so the caller can write with
        ``pre_partitioned=True`` (see _merge_logs)."""
        schema = self._read_schema(active=active)
        dirty = [] if read_optimized else [sl for sl in slices if sl.log_files]
        clean = [sl for sl in slices if read_optimized or not sl.log_files]
        parts = [self._scan_bases(clean, schema)] if clean else []
        if dirty:
            dschema = self._read_schema(
                extra_bool_cols=[API_DELETE, DELETE_MARKER], active=active)
            d = self._merge_logs(self._scan_bases(dirty, dschema),
                                 self._scan_logs(dirty, dschema, view),
                                 dirty, skip_merge, cluster_by_fg)
            if not raw and not skip_merge:
                d = drop_deleted(d)
            keep = set(schema.names) | ({API_DELETE} if raw else set())
            parts.append(d.select(*[c for c in dschema.names if c in keep]))
        if not parts:
            return self.spark.createDataFrame([], schema)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        if raw:
            return df.withColumn(FG, F.expr(sql_ident(META_FILE_NAME)))
        return df if read_optimized else drop_deleted(df)

    def _scan_bases(self, slices: list[FileSlice],
                    schema: StructType) -> DataFrame:
        """Base files of ``slices`` projected to ``schema``: engine-owned
        files in one scan; METADATA_ONLY-bootstrapped source files in a
        second scan whose meta columns are the virtual skeleton
        (scan.bootstrap_skeleton — the reference stitches them from skeleton
        files, HoodieBootstrapRelation.scala / HoodieBootstrapRDD.scala)."""
        own, ext = [], []
        for sl in slices:
            (ext if any(f.external for f in sl.base_files) else own).append(sl)
        dfs = []
        if own:
            paths = [self.meta.abs_path(f.path) for sl in own
                     for f in sl.base_files]
            dfs.append(scan_parquet(self.spark, paths, schema,
                                    fmt=self.tc.base_format))
        if ext:
            files = [(self.meta.abs_path(f.path), sl.file_group,
                      sl.base_instant) for sl in ext for f in sl.base_files]
            src = scan_parquet(self.spark, [p for p, _, _ in files])
            cols = {c: F.col(c) for c in src.columns}
            cols.update(bootstrap_skeleton(files, self.tc))
            dfs.append(src.select(*[
                cols.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
                for f in schema.fields]))
        df = dfs[0]
        for x in dfs[1:]:
            df = df.unionByName(x)
        return df

    def _scan_logs(self, dirty: list[FileSlice], schema: StructType,
                   view) -> DataFrame:
        """Delta rows of ``dirty``, flagged NEW_FLAG.  Grouped delta files
        are shared across file groups, so each path is scanned once; a shared
        file may also hold rows of groups NOT being read — another
        partition, or a group since compacted or replaced, whose rows must
        not resurrect.  The valid unit is the (file, group) PAIR exactly as
        the slices reference it (a group-set filter alone would keep stale
        rows of a still-dirty group sitting in an old shared file).  The
        pair filter is skipped — keeping the plan join-free — when ownership
        is PROVEN covered: per-group dir layout, or the view's fold-complete
        owner map shows every scanned file's groups are all selected."""
        entries = [(l.path, sl.file_group) for sl in dirty for l in sl.log_files]
        rel = list(dict.fromkeys(p for p, _ in entries))
        logs = scan_parquet(self.spark, [self.meta.abs_path(p) for p in rel],
                            schema).withColumn(NEW_FLAG, F.lit(True))
        if all(f"/{FG}=" in p for p in rel):
            return logs         # per-group files hold only their own rows
        sel: dict[str, set] = {}
        for p, fg in entries:
            sel.setdefault(p, set()).add(fg)
        if view is not None and all(
                (o := view.log_path_owners(p)) is not None and o <= sel[p]
                for p in rel):
            return logs
        pairs = self.spark.createDataFrame(
            sorted({(self.meta.abs_path(p), fg) for p, fg in entries}),
            schema=f"_hoodie_log_path string, {META_FILE_NAME} string")
        norm = F.regexp_replace(F.input_file_name(), "^file:/*", "/")
        return (logs.withColumn("_hoodie_log_path", norm)
                .join(F.broadcast(pairs), ["_hoodie_log_path", META_FILE_NAME],
                      "left_semi")
                .drop("_hoodie_log_path"))

    def _merge_logs(self, base: DataFrame, logs: DataFrame,
                    dirty: list[FileSlice], skip_merge: bool,
                    cluster_by_fg: bool) -> DataFrame:
        """Latest-wins merge of dirty slices' base and log rows, per file
        group — the reference merges per split (RealtimeCompactedRecordReader),
        so a duplicate-key twin in another group is untouched by this
        group's logs.  ``skip_merge`` (REALTIME_SKIP_MERGE) concatenates.
        Log sets up to MOR_MERGE_BROADCAST_MAX_LOG_BYTES take the broadcast
        split: the log key set is broadcast and untouched base keys pass
        through IN THEIR SCAN PARTITIONS (the 100 TB base side is never
        shuffled, mirroring the COW anti-join rewrite); only touched keys pay
        the window.  Larger log sets take union + window over everything.

        ``cluster_by_fg``: the shuffled side is repartitioned by file group
        (every row carries it in _hoodie_file_name), so the whole output can
        be written pre-partitioned — one new file per group from the merged
        side, scan-partition passthrough from the untouched side; merge
        windows on bucket_col reuse that exchange instead of adding a key
        shuffle."""
        if skip_merge:
            return base.unionByName(logs.drop(NEW_FLAG))

        def by_fg(df: DataFrame) -> DataFrame:
            if not cluster_by_fg:
                return df
            n = max(1, min(len(dirty),
                           self.spark.sparkContext.defaultParallelism))
            return df.repartition(n, F.col(META_FILE_NAME))

        log_bytes = sum(l.size for sl in dirty for l in sl.log_files)
        if log_bytes > MOR_MERGE_BROADCAST_MAX_LOG_BYTES:
            return merge_latest(
                by_fg(base.withColumn(NEW_FLAG, F.lit(False))
                      .unionByName(logs)),
                self.tc, bucket_col=META_FILE_NAME)
        # the split consumes the log side several times (key set in the
        # joins + the merged union); delta files are many and tiny (one per
        # file group per commit), so re-opening them dominates the merged
        # read.  Persist — bounded by the gate above — so one scan feeds
        # every subtree; a one-slot cache unpersists the previous read's.
        logs = logs.persist()
        prev = self._mor_log_persist
        if prev is not None and prev is not logs:
            try:
                prev.unpersist()
            except Exception:
                pass
        self._mor_log_persist = logs
        # no dedup on the key sets: semi/anti hash builds collapse duplicate
        # keys anyway, and a dropDuplicates would cost an extra exchange
        if self.tc.payload == PAYLOAD_OVERWRITE_LATEST:
            # single-base-scan split: a log row is always newer than its
            # slice's base (log instants > base_instant), so the per-(group,
            # key) log winner beats any base twin unconditionally.  Resolve
            # winners on the log side alone, then ONE pass over the base
            # drops superseded rows — the semi-join subtree of the general
            # split would scan the whole dirty base a second time.  The
            # anti-join uses the RAW log key set: a winner exists exactly
            # when a log row does, and the raw projection keeps the window
            # subtree out of the broadcast build.
            split_key = [META_FILE_NAME, *MERGE_KEY]
            winners = by_fg(merge_latest(logs, self.tc,
                                         bucket_col=META_FILE_NAME))
            return (base.join(F.broadcast(logs.select(*split_key)),
                              split_key, "left_anti")
                    .unionByName(winners, allowMissingColumns=True))
        lk = F.broadcast(logs.select(*MERGE_KEY))
        untouched = base.join(lk, MERGE_KEY, "left_anti")
        touched = (base.join(lk, MERGE_KEY, "left_semi")
                   .withColumn(NEW_FLAG, F.lit(False)))
        return untouched.unionByName(merge_latest(
            by_fg(touched.unionByName(logs)), self.tc,
            bucket_col=META_FILE_NAME))

    def _read_incremental(self, begin: Optional[str], end: Optional[str],
                          partitions: Optional[Sequence[str]],
                          path_glob: Optional[str] = None) -> DataFrame:
        """Change-stream in (begin, end]: latest value of every key changed in
        the range (IncrementalRelation.scala:64-181 /
        MergeOnReadIncrementalRelation.scala:95-111).  File set = commits'
        manifests, so the scan touches only file groups with changes; the
        ``_hoodie_commit_time`` range filter additionally prunes parquet row
        groups via min/max (free pushdown — it's a leading stored column)."""
        # active ∪ archived: an incremental pull whose range reaches behind
        # the archival boundary must still see those commits' file groups
        # (the view already folds archived instants; enumerate them here
        # too).  The window resolution is shared with the native DataSource
        # planner (fsview.incremental_window) so the two cannot desync.
        from .fsview import incremental_window
        instants, hi, touched = incremental_window(self.timeline, begin, end)
        if not instants:
            return self.spark.createDataFrame([], self._read_schema())
        from .fsview import filter_slices_by_glob
        view = self.view(as_of=hi)
        slices = [sl for sl in view.latest_slices(partitions)
                  if sl.file_group in touched]
        slices = filter_slices_by_glob(slices, path_glob)
        df = self._read_slices(slices, read_optimized=False, view=view)
        cond = F.col(META_COMMIT_TIME) <= F.lit(hi)
        if begin is not None:
            cond = cond & (F.col(META_COMMIT_TIME) > F.lit(begin))
        return df.filter(cond)

    # ==================================================================
    # table services (delegate to services/)
    # ==================================================================
    def _post_commit(self) -> None:
        """Post-commit services (SparkRDDWriteClient.java:263-281): inline
        compaction trigger + auto-clean/archival when configured."""
        # one listing feeds every eligibility gate below; the services that
        # actually FIRE re-list for themselves (rare vs the steady state)
        data = tl.completed_from(self.timeline.instants(), tl.DATA_ACTIONS)
        if self.cfg.inline_compaction and self.tc.table_type == MERGE_ON_READ:
            from .services.compaction import maybe_inline_compact
            maybe_inline_compact(self)
        if self.cfg.metadata_checkpoint_commits:
            from . import metadata_table as mt
            last = mt.latest_checkpoint_time(self.meta)
            fresh = [i for i in data if last is None or i.time > last]
            if len(fresh) >= self.cfg.metadata_checkpoint_commits:
                mt.write_checkpoint(self)
        # hoodie.clean.automatic / archival after write (postWrite,
        # SparkRDDWriteClient.java:263-281) — both no-ops until the table
        # exceeds retention, so the steady-state driver cost is one listing
        if self.cfg.auto_clean and len(data) > self.cfg.clean_retain_commits:
            self.clean()
        if self.cfg.auto_archive and len(data) > self.cfg.archive_max_commits:
            self.archive()

    def schedule_compaction(self, **kw) -> Optional[str]:
        from .services.compaction import schedule_compaction
        return schedule_compaction(self, **kw)

    def build_bloom_index(self, instant_time: Optional[str] = None,
                          bits_per_key: int = 10, k: int = 7) -> Optional[str]:
        """Build/refresh the per-file-group bloom sidecar (the reference
        BLOOM index's footer blooms, SURVEY §2.2) used by ``read_keys`` as
        a second pruning stage after min/max ranges."""
        from .bloom import build_bloom_sidecar
        return build_bloom_sidecar(self, instant_time, bits_per_key, k)

    def validate_compaction_plan(self, instant_time: str) -> list:
        from .services.compaction import validate_compaction_plan
        return validate_compaction_plan(self, instant_time)

    def unschedule_compaction(self, instant_time: str) -> bool:
        from .services.compaction import unschedule_compaction
        return unschedule_compaction(self, instant_time)

    def run_compaction(self, instant_time: Optional[str] = None) -> Optional[str]:
        from .services.compaction import run_compaction
        return run_compaction(self, instant_time)

    def cluster(self, sort_columns: Optional[Sequence[str]] = None,
                partitions: Optional[Sequence[str]] = None,
                layout: str = "linear") -> Optional[str]:
        """``layout="zorder"`` interleaves the sort columns on a Morton
        curve so column-stats skipping serves range predicates on every
        sort column, not just the leading one."""
        from .services.clustering import run_clustering
        return run_clustering(self, sort_columns, partitions, layout=layout)

    def schedule_clustering(self, sort_columns: Optional[Sequence[str]] = None,
                            partitions: Optional[Sequence[str]] = None,
                            layout: str = "linear", **kw) -> Optional[str]:
        """Park a clustering plan as ``replacecommit.requested``; its file
        groups are frozen (updates rejected, insert packing avoids them)
        until ``cluster()`` / ``run_clustering`` executes the plan."""
        from .services.clustering import schedule_clustering
        return schedule_clustering(self, sort_columns, partitions,
                                   layout=layout, **kw)

    def pending_clustering(self) -> dict[str, str]:
        """file_group → pending clustering instant time."""
        from .services.clustering import pending_clustering_fgs
        return pending_clustering_fgs(self)

    def clean(self) -> dict:
        from .services.cleaning import run_clean
        return run_clean(self)

    def rollback(self, instant_time: str) -> str:
        from .services.rollback import rollback_instant
        return rollback_instant(self, instant_time)

    def savepoint(self) -> str:
        from .services.savepoint import create_savepoint
        return create_savepoint(self)

    def restore(self, savepoint_time: str) -> str:
        from .services.savepoint import restore_to_savepoint
        return restore_to_savepoint(self, savepoint_time)

    def delete_savepoint(self, savepoint_time: str) -> None:
        from .services.savepoint import delete_savepoint
        return delete_savepoint(self, savepoint_time)

    def archive(self) -> int:
        from .services.archival import run_archival
        return run_archival(self)

    def write_metadata_checkpoint(self) -> Optional[str]:
        """Force a metadata-table sync (HoodieBackedTableMetadataWriter)."""
        from . import metadata_table as mt
        return mt.write_checkpoint(self)

    def metadata_files(self) -> DataFrame:
        """The metadata table's ``files`` view as a DataFrame."""
        from . import metadata_table as mt
        return mt.files_df(self)

    # ==================================================================
    # SQL-DML style API (MergeIntoHoodieTableCommand.scala re-expressed as
    # DataFrame algebra) lives in dml.py; re-exported here for ergonomics.
    # ==================================================================
    def merge(self, source: DataFrame, on: str, **kw) -> str:
        from .dml import merge_into
        return merge_into(self, source, on, **kw)

    def update(self, set_exprs: dict[str, str], where: Optional[str] = None) -> str:
        from .dml import update_table
        return update_table(self, set_exprs, where)

    def delete_where(self, where: str) -> str:
        from .dml import delete_where
        return delete_where(self, where)
