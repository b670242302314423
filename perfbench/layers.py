"""The per-layer metric table: layer names are the forklift_spark modules
(and their public functions) each workload loads or bypasses."""

LAYERS = (
    "plan.Plan.run",
    "patterns.incremental_pipe",
    "patterns.manifest_cdc_sync",
    "writer.ParquetTableWriter.write",
    "manifest.ManifestTable.apply_changes",
    "manifest.ManifestTable.changes",
    "manifest.ManifestTable.compact",
    "manifest.ManifestTable.read",
    "deltalite.sync_manifest_to_delta",
    "deltalite.DeltaLiteTable.changelog",
    "iceberglite.IcebergLiteTable.changelog",
    "datasource.read",
    "delta_datasource.read",
    "iceberg_datasource.read",
    "datasource.stream",
    "delta_datasource.stream",
    "iceberg_datasource.stream",
    "queries.catalog.query",
    "tables.load",
)

# from StreamingQuery.recentProgress, summed over the stream's batches
STREAM_FIELDS = ("latest_offset_ms", "query_planning_ms", "add_batch_ms", "batches")

WORKLOAD_EXTRAS = (
    ("etl_sync.write_amp", "B/B"),
    ("etl_sync.space_amp", "B/B"),
    ("lakehouse_read.op_s_p50.snapshot_read", "s"),
    ("lakehouse_read.op_s_p50.time_travel", "s"),
    ("lakehouse_read.op_s_p50.changelog", "s"),
    ("lakehouse_read.op_s_p50.stream_drain", "s"),
    ("bench.op.self_s", "s"),
    ("trace.ops_per_s", "op/s"),
    ("trace.overhead_s", "s"),
    ("trace.self_sum_error", "1"),
    ("tmp.leaked_entries", "count"),
)
