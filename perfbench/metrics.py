"""Metric names and units the benchmark prints (mirrors BENCHMARK.json).

Every workload prints every end-to-end metric (``--trace 0``) and every
per-layer metric (``--trace 1``).  A layer a workload does not touch
reads 0.  Which end-to-end metric each layer metric should move is in
``perfbench/README.md``.
"""

from __future__ import annotations

END_TO_END = {
    "latency_p50_s": "s",
    "setup_s": "s",
}

OPERATOR_MODULES = ("relational", "dedup", "similarity", "text", "multimodal", "advanced", "curation")

PER_LAYER = {
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "warmup_s": "s",
    "schema.stage_s": "s",
    **{f"operators.{m}.build_s": "s" for m in OPERATOR_MODULES},
    "spark.action_s": "s",
    "plan_cache.clear_s": "s",
    "spark.jobs_per_op": "count",
    "spark.jobs_build_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.max_task_s": "s",
    "spark.task_wait_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "sources.build_s": "s",
    "streaming.ingest.dual_sink_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.readback_s": "s",
    "snapshots.compact_s": "s",
    "snapshots.compactions": "count",
    "snapshots.live_files": "count",
    "snapshots.manifest_bytes": "bytes",
    "storage.bytes_per_user_byte": "ratio",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.batch_rows": "count",
    "stream.backlog_rows": "count",
    "stream.capacity_rows_per_s": "rows/s",
    "verify.mismatches": "count",
    "verify.oracle_s": "s",
    "host.probe_s": "s",
    "trace.latency_p50_s": "s",
}
