"""Metric names, units and the summary statistics the workloads share.

Every workload prints every end-to-end metric (untraced runs) or every
per-layer metric (traced runs). A per-layer metric of a layer the
workload never calls reads 0: that layer did no work in that workload.
"""

from __future__ import annotations


# name -> (unit, better, bound). What each one means per workload is in
# the module docstring of that workload.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cold_cpu_s": ("s", "lower", 0.24),
    "steady_cpu_s": ("s", "lower", 0.24),
}

# Spark counters per phase, from the event log (see sparklogs.COUNTERS)
PLANS_COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "executor_cpu_ms",
    "deser_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)
SERVE_COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "output_bytes", "shuffle_write_bytes",
)
PIPELINE_COUNTERS = ("jobs", "stages", "tasks", "deser_ms", "executor_run_ms")

COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "stages_skipped": "count",
    "tasks": "count", "executor_cpu_ms": "ms", "executor_run_ms": "ms",
    "deser_ms": "ms", "gc_ms": "ms", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "input_bytes": "bytes", "output_bytes": "bytes",
}

# the text index's phases in ``ingest_index`` → metric name prefix
SERVE_PHASES = {
    "write": "operators.text.write",
    "delete": "operators.text.delete",
    "serve": "streaming.serve",
}


def _per_layer() -> dict[str, dict[str, str]]:
    """``{workload: {metric: unit}}`` for the metrics each workload owns."""
    common = {
        "session.start_s": "s",
        "session.peak_rss_mb": "MB",
        "log.warn_lines": "count",
        "log.stack_traces": "count",
        "trace.steady_cpu_s": "s",
        "trace.event_log_mb": "MB",
    }
    from workload_queries import SUBSET

    queries = {f"plans.{p}_s": "s" for p in ("build", "first", "steady")}
    for q in SUBSET:
        queries[f"plans.{q}.cold_s"] = "s"
        queries[f"plans.{q}.steady_s"] = "s"
    for phase in ("build", "first", "steady"):
        for c in PLANS_COUNTERS:
            queries[f"plans.{phase}.{c}"] = COUNTER_UNITS[c]
    serving = {
        "pipelines.posts_run_s": "s",
        "pipelines.insert_ratio": "ratio",
        "streaming.bm25_topk_batch_s": "s",
        "operators.text.write_s": "s",
        "operators.text.delete_s": "s",
        "operators.text.files": "count",
        "operators.text.bytes": "bytes",
        "operators.text.space_amp": "ratio",
        "operators.text.probe_read_ratio": "ratio",
    }
    for c in PIPELINE_COUNTERS:
        serving[f"pipelines.posts.{c}"] = COUNTER_UNITS[c]
    for prefix in SERVE_PHASES.values():
        for c in SERVE_COUNTERS:
            serving[f"{prefix}.{c}"] = COUNTER_UNITS[c]
    return {"queries": {**common, **queries}, "ingest_index": {**common, **serving}}


PER_LAYER_BY_WORKLOAD = _per_layer()
PER_LAYER: dict[str, str] = {}
for _owned in PER_LAYER_BY_WORKLOAD.values():
    PER_LAYER.update(_owned)

