"""Per-layer metrics of a traced run, computed from its spans.

Layers are named after the engine's modules. Every metric is reported
on every workload; a layer a workload does not use reports 0. Values
are medians over the traced warm iterations (the cold iteration when a
run has none). What each metric should move, and on which workload,
is in ``METRICS.md``.
"""

from __future__ import annotations

import statistics

from workloads import ANALYSES

ITERATION = [
    ("cold_wall_s", "s", "lower"),
    ("wall_s", "s", "lower"),
]
SESSION = [
    ("session.cold_setup_s", "s", "lower"),
    ("session.setup_wall_s", "s", "lower"),
    ("session.get_spark_s", "s", "lower"),
    ("session.register_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
]
PLANS = [
    ("plans.build_s", "s", "lower"),
    ("plans.build_share", "ratio", "lower"),
    ("plans.span_coverage", "ratio", "higher"),
]
OPERATORS = [
    ("operators.pin_jobs", "count", "lower"),
    ("operators.pin_stages", "count", "lower"),
    ("operators.pin_tasks", "count", "lower"),
    ("operators.pin_executor_run_s", "s", "lower"),
    ("operators.pin_executor_cpu_s", "s", "lower"),
    ("operators.pin_shuffle_write_mb", "MB", "lower"),
    ("operators.pin_driver_gap_s", "s", "lower"),
]
FINAL = [
    ("final.run_s", "s", "lower"),
    ("final.jobs", "count", "lower"),
    ("final.stages", "count", "lower"),
    ("final.tasks", "count", "lower"),
    ("final.executor_run_s", "s", "lower"),
    ("final.executor_cpu_s", "s", "lower"),
    ("final.gc_s", "s", "lower"),
    ("final.shuffle_read_mb", "MB", "lower"),
    ("final.shuffle_write_mb", "MB", "lower"),
    ("final.spill_mb", "MB", "lower"),
    ("final.task_skew", "ratio", "lower"),
    ("final.width_util", "ratio", "higher"),
]
SOURCES = [
    ("sources.input_mb", "MB", "lower"),
    ("sources.input_rows", "count", "lower"),
]
ETL = [
    ("etl.run_s", "s", "lower"),
    ("etl.rows_in", "count", "higher"),
    ("etl.rows_out", "count", "higher"),
    ("etl.rows_per_s", "1/s", "higher"),
    ("etl.files_written", "count", "lower"),
    ("etl.bytes_written_mb", "MB", "lower"),
    ("etl.bytes_out_per_in", "ratio", "lower"),
]
TAXI = [
    ("taxi_analytics.total_s", "s", "lower"),
    ("taxi_analytics.input_mb", "MB", "lower"),
    *[(f"taxi_analytics.{a}_s", "s", "lower") for a in ANALYSES],
]
STREAMING = [
    ("streaming.drain_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.input_rows", "count", "higher"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.planning_s", "s", "lower"),
    ("streaming.commit_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
]
TRACE = [("trace.overhead_s", "s", "lower")]

PER_LAYER = (
    ITERATION + SESSION + PLANS + OPERATORS + FINAL + SOURCES + ETL + TAXI + STREAMING + TRACE
)
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _iteration(spans: list[dict], cores: int) -> dict:
    """Per-layer values of one traced iteration."""
    v = dict.fromkeys(UNITS, 0.0)
    builds = [s for s in spans if s["name"] == "plans.build"]
    finals = [s for s in spans if s["name"] == "final.run"]
    etls = [s for s in spans if s["name"] == "etl.run"]
    leaves = builds + finals + etls

    v["plans.build_s"] = sum(map(_dur, builds))
    v["final.run_s"] = sum(map(_dur, finals))
    both = v["plans.build_s"] + v["final.run_s"]
    v["plans.build_share"] = v["plans.build_s"] / both if both else 0.0
    # each step's wall, less the tracer's own bookkeeping inside it,
    # against the time its leaf spans account for; the worst step
    coverage = []
    for step in (s for s in spans if s["name"] == "step"):
        kids = [s for s in leaves if s["parent"] == step["id"]]
        own = _dur(step) - sum(s.get("trace_s", 0.0) for s in kids)
        if own > 0:
            coverage.append(sum(map(_dur, kids)) / own)
    v["plans.span_coverage"] = min(coverage) if coverage else 0.0

    for s in builds:
        sp = s["spark"]
        v["operators.pin_jobs"] += sp["jobs"]
        v["operators.pin_stages"] += sp["stages"]
        v["operators.pin_tasks"] += sp["tasks"]
        v["operators.pin_executor_run_s"] += sp["executor_run_s"]
        v["operators.pin_executor_cpu_s"] += sp["executor_cpu_s"]
        v["operators.pin_shuffle_write_mb"] += sp["shuffle_write_mb"]
        v["operators.pin_driver_gap_s"] += max(0.0, _dur(s) - sp["job_wall_s"])

    stage_wall = 0.0
    for s in finals:
        sp = s["spark"]
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            v[f"final.{k}"] += sp[k]
        v["final.task_skew"] = max(v["final.task_skew"], sp["task_skew"])
        stage_wall += sp["stage_wall_s"]
    if stage_wall:
        v["final.width_util"] = v["final.executor_run_s"] / (stage_wall * cores)

    for s in leaves:
        v["sources.input_mb"] += s["spark"]["input_mb"]
        v["sources.input_rows"] += s["spark"]["input_rows"]
        for k, x in s["streaming"].items():
            key = f"streaming.{k}"
            v[key] = max(v[key], x) if k.startswith("state_") else v[key] + x

    for s in etls:
        run_s = _dur(s)
        v["etl.run_s"] += run_s
        v["etl.rows_in"] += s["rows_in"]
        v["etl.rows_out"] += s["rows_out"]
        v["etl.rows_per_s"] += s["rows_in"] / run_s
        v["etl.files_written"] += s["files_written"]
        v["etl.bytes_written_mb"] += s["bytes_written"] / (1024.0 * 1024.0)
        v["etl.bytes_out_per_in"] += s["bytes_written"] / s["bytes_in"]

    for s in builds + finals:
        if s.get("analysis") or s.get("step") == "read_curated":
            v["taxi_analytics.total_s"] += _dur(s)
        if s.get("analysis"):
            v[f"taxi_analytics.{s['step']}_s"] += _dur(s)
            v["taxi_analytics.input_mb"] += s["spark"]["input_mb"]
    return v


def warm_wall_s(walls: list[float], traced: list[bool]) -> float:
    """Median wall time of the untraced warm iterations (the last
    iteration when there are none)."""
    warm = [w for w, t in zip(walls[1:], traced[1:]) if not t]
    return statistics.median(warm) if warm else walls[-1]


def per_layer(
    spans: list[dict], walls: list[float], traced: list[bool], setups: list[dict], cores: int
) -> dict:
    """``{name: {"value", "unit"}}`` for every per-layer metric."""
    its = [i for i, t in enumerate(traced) if t and i > 0] or [0]
    per_it = [_iteration([s for s in spans if s["iteration"] == i], cores) for i in its]
    v = {k: statistics.median(x[k] for x in per_it) for k in UNITS}
    v["cold_wall_s"] = walls[0]
    v["wall_s"] = warm_wall_s(walls, traced)
    v["session.cold_setup_s"] = setups[0]["total_s"]
    v["session.setup_wall_s"] = statistics.median(s["total_s"] for s in setups[1:])
    for k in ("get_spark_s", "register_s", "warmup_s"):
        v[f"session.{k}"] = statistics.median(s[k] for s in setups)
    on = [w for i, (w, t) in enumerate(zip(walls, traced)) if t and i > 0]
    off = [w for i, (w, t) in enumerate(zip(walls, traced)) if not t and i > 0]
    if on and off:
        v["trace.overhead_s"] = statistics.median(on) - statistics.median(off)
    return {k: {"value": x, "unit": UNITS[k]} for k, x in v.items()}
