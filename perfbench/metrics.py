"""Metric names, units and directions; BENCHMARK.json lists the same.

Every workload reports every metric. End-to-end metrics are measured
on each workload in its own terms (see README.md). Per-layer metrics
are sums over the measured pass, so a layer a workload never enters
reads 0 there: that is a count of nothing, not a missed measurement.
A missed measurement is reported as ``null`` with a reason.
"""

from __future__ import annotations

from workloads import PIPELINES, TPCH_QUERIES

END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "latency_ms_p50": ("ms", "lower"),
    "latency_ms_p90": ("ms", "lower"),
}

EXEC_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "python_gap_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)
STREAM_FIELDS = (
    "trigger_ms", "add_batch_ms", "planning_ms", "commit_ms",
    "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
)
STATE_FIELDS = (
    "state_rows", "state_bytes", "state_commit_ms", "state_update_ms",
    "late_rows_dropped",
)


def per_layer_names() -> list[str]:
    names = [
        "session.cold_start_s", "session.start_s", "session.warm_s",
        "queries.build_s", "queries.build_jobs",
    ]
    names += [f"queries.{q}.build_s" for q in TPCH_QUERIES]
    names += ["plans.plan_s", "exec.wall_s"]
    names += [f"exec.{q}.wall_s" for q in TPCH_QUERIES]
    names += [f"exec.{f}" for f in EXEC_FIELDS]
    names += [
        "sources.input_bytes", "sources.input_rows",
        "sources.latest_offset_ms", "sources.backlog_rows",
    ]
    for p in PIPELINES:
        # the join is a broadcast lookup: it never shuffles
        names += [
            f"streaming.{p}.{f}" for f in STREAM_FIELDS
            if not (p == "joins" and f == "shuffle_write_bytes")
        ]
    for p in ("windows", "stateful"):
        names += [f"streaming.{p}.{f}" for f in STATE_FIELDS]
    names += ["trace.pass_s", "host.peak_rss_mb"]
    return names


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("rows") or leaf == "late_rows_dropped":
        return "rows"
    return "count"


def per_layer_spec() -> list[dict]:
    return [
        {"name": n, "unit": unit_of(n), "better": "lower"}
        for n in per_layer_names()
    ]
