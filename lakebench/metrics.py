"""Metric names, units and the roll-up from pass records to the values a
run reports.

Every run reports every name of its kind, whatever the workload: a layer
that a workload does not call reports 0 (no time, no jobs, no bytes).
"""

from __future__ import annotations

from sparkstats import COUNTERS, core_busy_ratio, idle_cluster_s, median, pass_counters
from workloads import HEAVY_JOINS, JOB_LAYERS, REGISTRY

END_TO_END = {
    "pass_s": "s",
    "setup_s": "s",
    "retained_mb": "MB",
    "ok_ratio": "ratio",
}

_SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "input_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    u = {
        "session.get_spark_s": "s", "session.warmup_s": "s", "inputs.generate_s": "s",
        "trace.overhead_s": "s", "trace.span_coverage": "ratio",
        "driver.idle_cluster_s": "s", "spark.core_busy_ratio": "ratio",
        "refresh_s": "s", "write_amp": "ratio", "incr_rewrite_frac": "ratio",
        "failed_ratio": "ratio", "peak_rss_mb": "MB",
    }
    u.update({f"spark.{k}": v for k, v in _SPARK_UNITS.items()})
    for layer in JOB_LAYERS:
        u.update({
            f"jobs.{layer}.wall_s": "s", f"jobs.{layer}.jobs": "count",
            f"jobs.{layer}.bytes_written": "bytes", f"jobs.{layer}.files_written": "count",
        })
    u["jobs.bronze_to_silver.geolocation.wall_s"] = "s"
    u["jobs.bronze_to_silver.order_reviews.wall_s"] = "s"
    for q in REGISTRY:
        u.update({f"{q}.build_s": "s", f"{q}.action_s": "s", f"{q}.jobs": "count"})
    u.update({f"{q}.shuffle_write_mb": "MB" for q in HEAVY_JOINS})
    return u


PER_LAYER = _per_layer_units()


def unit(name: str) -> str:
    return END_TO_END.get(name) or PER_LAYER[name]


def end_to_end(timed, run_info: dict, attempted: int, failed: int) -> dict[str, float]:
    return {
        "pass_s": median([p.wall_s for p in timed]),
        "setup_s": run_info["get_spark_s"] + run_info["warmup_s"],
        "retained_mb": run_info["retained_mb"],
        "ok_ratio": 1.0 - failed / attempted,
    }


def _pass_values(p, run_info: dict) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    v = dict.fromkeys(PER_LAYER, 0.0)
    c = pass_counters([op.stats for op in p.ops])
    v.update({f"spark.{k}": c[k] for k in COUNTERS})
    v["spark.core_busy_ratio"] = core_busy_ratio(c["executor_run_s"], p.wall_s, run_info["cores"])
    intervals = [iv for op in p.ops for iv in op.stats.intervals]
    v["driver.idle_cluster_s"] = idle_cluster_s(intervals, p.start, p.end) - p.excluded_s
    v["trace.span_coverage"] = sum(op.wall_s for op in p.ops) / p.wall_s
    v["failed_ratio"] = sum(not op.ok for op in p.ops) / len(p.ops)
    written = 0.0
    for op in p.ops:
        if op.layer == "registry":
            v[f"{op.name}.build_s"] = op.parts.get("build_s", 0.0)
            v[f"{op.name}.action_s"] = op.parts.get("action_s", 0.0)
            v[f"{op.name}.jobs"] = op.stats.counters["jobs"]
            if op.name in HEAVY_JOINS:
                v[f"{op.name}.shuffle_write_mb"] = op.stats.counters["shuffle_write_mb"]
            continue
        pre = f"jobs.{op.layer}"
        v[f"{pre}.wall_s"] += op.wall_s
        v[f"{pre}.jobs"] += op.stats.counters["jobs"]
        v[f"{pre}.bytes_written"] += op.parts.get("bytes_written", 0)
        v[f"{pre}.files_written"] += op.parts.get("files_written", 0)
        written += op.parts.get("bytes_written", 0)
        if op.name in ("geolocation", "order_reviews"):
            v[f"{pre}.{op.name}.wall_s"] = op.wall_s
        if op.name == "refresh":
            v["refresh_s"] = op.wall_s
            v["incr_rewrite_frac"] = op.parts.get("bytes_written", 0) / op.parts["bytes_after"]
    if run_info["bronze_bytes"]:
        v["write_amp"] = written / run_info["bronze_bytes"]
    return v


def per_layer(timed, run_info: dict) -> dict[str, float]:
    traced = [p for p in timed if p.traced]
    plain = [p for p in timed if not p.traced]
    rows = [_pass_values(p, run_info) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in PER_LAYER}
    out["session.get_spark_s"] = run_info["get_spark_s"]
    out["session.warmup_s"] = run_info["warmup_s"]
    out["inputs.generate_s"] = run_info["generate_s"]
    out["peak_rss_mb"] = run_info["peak_rss_mb"]
    if plain:
        out["trace.overhead_s"] = median([p.wall_s for p in traced]) - median([p.wall_s for p in plain])
    return out
