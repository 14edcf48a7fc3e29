"""Metric names and units. README.md records what each layer metric is
expected to move, on which workload.

``run.py`` prints exactly ``END_TO_END`` with ``--trace 0`` and exactly
``PER_LAYER`` with ``--trace 1``, in every workload; a layer a workload
does not exercise reads 0 there. ``BENCHMARK.json`` lists the same names
(checked by the tests).

End-to-end metrics per workload:

- ``latency_p50_ms``: batch_floor, the median call (construct plus
  action, ``batch.floor_figures``); stream_audit, the geometric mean of
  the window and alert medians of sink commit time minus the generator
  stamp of the newest event in the result, over the open-loop phase
  (``stream.StreamRun.idle_latency``). Each call or result is taken as on
  an idle host (``common.unstolen``). Medians are Harrell-Davis estimates
  (``common.hd_median``).
- ``setup_s``: process start to the first timed operation: Python
  imports, session, registry, data fingerprint and the workload's warm-up
  (batch_floor: ``FLOOR_WARMUP``; stream_audit: the warm-up drain), as on
  an idle host (``common.unstolen``, ``Engine.warmed``).

The per-layer ``throughput_per_s`` is, on batch_floor, calls per second
of timed work and, on stream_audit, the geometric mean of the window and
alert drain rates (rows over the trigger time of the backlog batches),
with the same host correction. It is not end to end: on the shared
4-core host the drain rate's quartile spread over ten runs reached 0.37
of its median.
"""

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
}

_STREAM = {
    "batches": "count", "drain_rows_per_s": "1/s", "latency_p50_ms": "ms",
    "latency_tail_ms": "ms", "latency_tail_level": "fraction",
    "latency_samples": "count", "latestOffset_ms": "ms",
    "queryPlanning_ms": "ms", "walCommit_ms": "ms", "commitOffsets_ms": "ms",
    "addBatch_ms": "ms",
}
_STATE = {
    "commit_ms": "ms", "updates_ms": "ms", "removals_ms": "ms",
    "rows_peak": "count", "bytes_peak": "bytes", "rows_dropped_late": "count",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.all_queries_s": "s",
    "data.fingerprint_s": "s",
    "setup.warmup_s": "s",
    "query.calls": "count",
    "query.construct_s": "s",
    "query.construct_jobs": "count",
    "query.action_s": "s",
    "query.action_jobs": "count",
    "query.plan_s": "s",
    "query.cpu_s": "s",
    "query.construct_share": "fraction",
    "latency.raw_p50_ms": "ms",
    "latency.tail_ms": "ms",
    "latency.tail_level": "fraction",
    "latency.samples": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.task_skew": "ratio",
    "throughput_per_s": "1/s",
    "mem.peak_rss_mb": "MiB",
    "host.steal_share": "fraction",
    **{f"stream.{q}.{k}": u for q in ("window", "alert") for k, u in _STREAM.items()},
    **{f"state.{q}.{k}": u for q in ("window", "alert") for k, u in _STATE.items()},
    "gen.late_ms_max": "ms",
    "source.backlog_files_peak": "count",
    "trace.spans": "count",
    "traced.setup_s": "s",
    "traced.latency_p50_ms": "ms",
    "traced.throughput_per_s": "1/s",
}
