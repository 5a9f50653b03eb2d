"""Which engine entry points the traced run wraps, and under which layer.

``incubator_hudi_spark.table`` imports most helpers by name, so those
wrappers go on the names as that module looks them up. Helpers the engine
imports inside a function body (services, bloom, metadata table, MOR log
writer) are looked up on their own module at call time, so they are wrapped
there. Span names are ``<layer>:<function>``.
"""

from __future__ import annotations

from spans import Tracer


def _count(name, fn=lambda args, kwargs, result: 1):
    def hook(tracer, args, kwargs, result):
        tracer.count(name, fn(args, kwargs, result))
    return hook


def _on_complete(tracer, args, kwargs, result):
    # HudiTable._complete(self, instant, operation, stats, ...)
    operation = args[2] if len(args) > 2 else kwargs.get("operation")
    stats = args[3] if len(args) > 3 else kwargs.get("stats")
    tracer.count("writer.files_written", len(stats or []))
    if operation == "compact":
        tracer.count("services.compaction.bytes_rewritten",
                     sum(s.size for s in stats or []))


def _on_bloom_prune(tracer, args, kwargs, result):
    tracer.count("bloom.slices_in", len(args[0]))
    tracer.count("bloom.slices_out", len(result))


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the per-layer metrics are built from."""
    import incubator_hudi_spark.bloom as bloom
    import incubator_hudi_spark.metadata_table as metadata_table
    import incubator_hudi_spark.services.archival as archival
    import incubator_hudi_spark.services.cleaning as cleaning
    import incubator_hudi_spark.services.compaction as compaction
    import incubator_hudi_spark.table as table
    import incubator_hudi_spark.writer as writer
    from incubator_hudi_spark.fsview import FileSystemView
    from incubator_hudi_spark.timeline import Timeline

    w = tracer.wrap
    w(table, "write_instant_files", "writer")
    w(writer, "write_grouped_log_files", "writer")
    w(table, "tag_locations", "indexing")
    w(table, "load_key_index", "indexing",
      on_return=_count("indexing.key_index_loads"))
    w(table, "plan_insert_buckets", "plans.buckets")
    w(table, "assign_insert_buckets", "plans.buckets")
    w(table, "scan_parquet", "scan",
      on_return=_count("scan.files_opened", lambda a, k, r: len(a[1])))
    w(table.HudiTable, "view", "fsview", on_return=_count("fsview.calls"))
    w(FileSystemView, "latest_slices", "fsview")
    # driver-only file listings and JSON reads: no Spark jobs to attribute
    w(Timeline, "instants", "timeline", jobs=False,
      on_return=_count("timeline.listings"))
    w(Timeline, "read_metadata", "timeline", jobs=False)
    w(Timeline, "transition_to_completed", "timeline", jobs=False)
    w(table.HudiTable, "upsert", "table")
    w(table.HudiTable, "delete", "table")
    w(table.HudiTable, "_complete", "table", on_return=_on_complete)
    w(table.HudiTable, "_post_commit", "table")
    w(bloom, "load_blooms", "bloom", jobs=False)
    w(bloom, "prune_slices_by_bloom", "bloom", jobs=False,
      on_return=_on_bloom_prune)
    w(compaction, "run_compaction", "services.compaction")
    w(cleaning, "run_clean", "services.cleaning",
      on_return=_count("services.cleaning.files_deleted",
                       lambda a, k, r: r.get("deleted", 0)))
    w(archival, "run_archival", "services.archival")
    w(metadata_table, "write_checkpoint", "metadata_table")
    w(metadata_table, "latest_checkpoint_time", "metadata_table", jobs=False)
