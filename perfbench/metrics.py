"""Names and units of every metric the benchmark reports; the smoke test
checks BENCHMARK.json and the printed results against these."""

# The operation tail (the highest percentile with ten samples beyond it)
# is printed and recorded with each run but not gated: a run holds too
# few operations for that percentile to lie above the median.
END_TO_END = {
    "setup_s": "s", "cold_s": "s", "wall_s": "s", "op_p50_s": "s",
    "write_p50_s": "s", "read_p50_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s", "session.worker_warm_s": "s",
    "session.peak_rss_mb": "MB",
    "tables.scan_s": "s", "tables.scan_tasks": "count",
    "query.build_s": "s", "query.exec_s": "s", "query.jobs": "count",
    "query.stages": "count", "query.tasks": "count", "query.plan_ms": "ms",
    "query.driver_gap_s": "s", "query.executor_run_s": "s",
    "query.executor_cpu_s": "s", "query.gc_s": "s",
    "query.shuffle_write_bytes": "bytes", "query.shuffle_read_bytes": "bytes",
    "query.spill_bytes": "bytes",
    "query.python_stages": "count",
    "lineage.eager_jobs": "count", "lineage.persisted_rdds_after": "count",
    "maple_juice.maple_s": "s", "maple_juice.juice_hash_s": "s",
    "maple_juice.juice_range_s": "s", "maple_juice.maple_exe_s": "s",
    "maple_juice.juice_exe_s": "s", "maple_juice.kv_rows_per_input_row": "ratio",
    "maple_juice.shuffle_bytes": "bytes", "maple_juice.exe_procs": "count",
    "maple_juice.range_extra_jobs": "count",
    "maple_juice.overhead_vs_declarative": "ratio",
    "streaming.drain_s": "s", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.batches_per_drain": "count",
    "streaming.state_rows_total": "count",
    "streaming.source_rows_read_per_row": "ratio",
    "filestore.merge_s": "s", "filestore.append_snapshot_s": "s",
    "filestore.read_snapshot_s": "s", "filestore.snapshot_diff_s": "s",
    "filestore.compact_snapshot_s": "s", "filestore.vacuum_s": "s",
    "filestore.bytes_per_user_byte": "ratio", "filestore.files": "count",
    "filestore.versions": "count",
    "filestore.commit_conflicts_per_commit": "ratio",
    "trace.wall_s": "s", "error_rate": "ratio",
}

# Shuffle fetch wait is left out: in local mode every shuffle block is
# local and the wait is always zero (it stays in the per-operation report).

# every other metric is better when lower
HIGHER_IS_BETTER = {"tables.scan_tasks"}
