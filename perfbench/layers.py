"""The metrics the benchmark reports, and the layer -> end-to-end map.

``END_TO_END`` names what a user of the engine sees, the same three on
every workload: ``op`` is a leaderboard micro-batch on topn-feedback and
a flagship query on flagship-batch; ``events_per_s`` is input rows over
the time of the ops that consumed them. ``PER_LAYER`` gives, for each per-layer
metric, its unit, the end-to-end metric and workload it should move, and
the workload that exercises the layer: on any other workload the layer
is not called and the metric reads 0.
"""

from __future__ import annotations

WORKLOADS = ("topn-feedback", "flagship-batch")
ALL = "all"

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "events_per_s": "1/s",
}

# metric: (unit, moves, owner workload)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.start_ms": ("ms", "setup_s", ALL),
    "session.warmup_ms": ("ms", "setup_s", ALL),
    # demoted from end-to-end: they do not repeat within a tenth run to run
    "op_tail_ms": ("ms", "op_p50_ms (the tail of the same samples)", ALL),
    "driver_peak_rss_mb": ("MB", "setup_s", ALL),
    "sources.scan_ms": ("ms", "op_p50_ms on flagship-batch", "flagship-batch"),
    "functions.tokenize_ms": ("ms", "op_p50_ms on flagship-batch", "flagship-batch"),
    "operators.windows.self_ms": ("ms", "op_p50_ms on flagship-batch", "flagship-batch"),
    "operators.windows.shuffle_write_bytes": ("bytes", "op_p50_ms on flagship-batch", "flagship-batch"),
    "operators.topn.self_ms": ("ms", "op_p50_ms on flagship-batch", "flagship-batch"),
    "operators.topn.rows_out": ("count", "op_p50_ms on flagship-batch", "flagship-batch"),
    "plans.flagship.join_self_ms": ("ms", "op_p50_ms on flagship-batch", "flagship-batch"),
    "plans.flagship.broadcast_rows": ("count", "op_p50_ms on flagship-batch", "flagship-batch"),
    "streaming.jobs_per_batch": ("count", "op_p50_ms, events_per_s on topn-feedback", "topn-feedback"),
    "streaming.add_batch_ms": ("ms", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.query_planning_ms": ("ms", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.wal_commit_ms": ("ms", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.commit_offsets_ms": ("ms", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.state_commit_ms": ("ms", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.state_update_ms": ("ms", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.state_rows": ("count", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.state_bytes": ("bytes", "op_p50_ms on topn-feedback", "topn-feedback"),
    "streaming.late_rows_dropped": ("count", "events_per_s on topn-feedback", "topn-feedback"),
    "streaming.useful_row_ratio": ("ratio", "events_per_s on topn-feedback", "topn-feedback"),
    "streaming.filter_ms": ("ms", "events_per_s on topn-feedback", "topn-feedback"),
    "sink.kv_sets_per_batch": ("count", "op_p50_ms on topn-feedback", "topn-feedback"),
    "sink.kv_changed_ratio": ("ratio", "op_p50_ms on topn-feedback", "topn-feedback"),
    "mv.merge_p50_ms": ("ms", "events_per_s on topn-feedback", "topn-feedback"),
    "mv.lookup_p50_ms": ("ms", "events_per_s on topn-feedback", "topn-feedback"),
    "mv.merge_jobs": ("count", "events_per_s on topn-feedback", "topn-feedback"),
    "mv.touched_buckets": ("count", "events_per_s on topn-feedback", "topn-feedback"),
    "mv.bytes_written": ("bytes", "events_per_s on topn-feedback", "topn-feedback"),
    "mv.live_files": ("count", "events_per_s on topn-feedback", "topn-feedback"),
    "mv.lookup_jobs": ("count", "op_p50_ms on topn-feedback", "topn-feedback"),
    "mv.lookup_python_stages": ("count", "op_p50_ms on topn-feedback", "topn-feedback"),
    "mv.lookup_buckets_read": ("count", "op_p50_ms on topn-feedback", "topn-feedback"),
    "spark.jobs": ("count", "op_p50_ms", ALL),
    "spark.stages": ("count", "op_p50_ms", ALL),
    "spark.tasks": ("count", "op_p50_ms", ALL),
    "spark.executor_run_ms": ("ms", "op_p50_ms on flagship-batch", ALL),
    "spark.executor_cpu_ms": ("ms", "op_p50_ms on flagship-batch", ALL),
    "spark.gc_ms": ("ms", "op_p50_ms", ALL),
    "spark.shuffle_read_bytes": ("bytes", "op_p50_ms", ALL),
    "spark.shuffle_write_bytes": ("bytes", "op_p50_ms", ALL),
    "spark.spill_bytes": ("bytes", "op_p50_ms", ALL),
    "spark.input_bytes": ("bytes", "op_p50_ms", ALL),
    "spark.busy_share": ("ratio", "op_p50_ms", ALL),
    "spark.idle_gap_ms": ("ms", "op_p50_ms, events_per_s on topn-feedback", ALL),
    "spark.parallel_speedup": ("ratio", "context for every metric", ALL),
    "host.canary_ms": ("ms", "context for every metric", ALL),
    "trace.overhead_ratio": ("ratio", "context: traced over untraced op time", ALL),
}

#: The Spark counters are per iteration; these name the SparkCounters fields.
SPARK_FIELDS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.executor_run_ms": "executor_run_ms",
    "spark.executor_cpu_ms": "executor_cpu_ms",
    "spark.gc_ms": "gc_ms",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.input_bytes": "input_bytes",
    "spark.busy_share": "busy_share",
    "spark.idle_gap_ms": "idle_gap_ms",
}

#: higher is better for these; lower for every other metric
HIGHER_IS_BETTER = {
    "events_per_s", "spark.busy_share", "spark.parallel_speedup",
    "streaming.useful_row_ratio",
}
