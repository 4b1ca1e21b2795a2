"""Metric names, units and the benchmark's two output lines.

The last line of a run is the result line: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). The line before it is the headline: the end-to-end metrics plus the
workload, seed, failure ratio and per-call walls, for a reader. The headline
stays under ``MAX_LINE`` bytes so a log tail never cuts it; the per-layer
detail goes to the detail file.
"""

from __future__ import annotations

import json

MAX_LINE = 2048

END_TO_END = {"setup_s": "s", "wall_s": "s"}

# the operator calls of the workloads BENCHMARK.json declares, in order
OPERATOR_CALLS = (
    "ingest",
    "pagerank_converge",
    "pagerank_fixed10",
    "csr_build",
    "csr_pagerank",
    "lpa_csr",
    "core_numbers",
)
CALL_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "driver_idle_s": "s",
    "py_run_s": "s",
    "shuffle_write_mb": "MB",
}
SPARK_METRICS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "fetch_wait_s": "s",
    "spill_mb": "MB",
    "peak_exec_mem_mb": "MB",
    "output_mb": "MB",
    "straggler_s": "s",
    "busy_frac": "ratio",
}
PYWORKER_METRICS = {"to_py_mb": "MB", "from_py_mb": "MB", "init_s": "s", "run_s": "s"}

PER_LAYER = {
    "sources.ingest_s": "s",
    "sources.edges": "count",
    "plans.csr_build_s": "s",
    "plans.csr_block_mb": "MB",
    **{f"operators.{op}.{m}": u for op in OPERATOR_CALLS for m, u in CALL_METRICS.items()},
    "operators.pagerank_converge.supersteps": "count",
    **{f"spark.{m}": u for m, u in SPARK_METRICS.items()},
    **{f"pyworker.{m}": u for m, u in PYWORKER_METRICS.items()},
    "driver.idle_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer_values(layers: dict, calls_present, extra: dict) -> dict:
    """Flatten an ``eventlog.layer_report`` into the ``PER_LAYER`` names.

    Calls a workload does not make read 0, so every traced run reports every
    name. ``extra`` carries the values the event log cannot know (sizes,
    supersteps, tracing overhead)."""
    calls = layers["calls"]
    values = {name: 0.0 for name in PER_LAYER}
    for op in set(calls_present) & set(OPERATOR_CALLS):
        for m in CALL_METRICS:
            values[f"operators.{op}.{m}"] = calls[op][m]
    for group in ("spark", "pyworker", "driver"):
        for m, v in layers[group].items():
            values[f"{group}.{m}"] = v
    values["sources.ingest_s"] = values["operators.ingest.wall_s"]
    values["plans.csr_build_s"] = values["operators.csr_build.wall_s"]
    unknown = set(extra) - set(values)
    if unknown:
        raise KeyError(f"not per-layer metrics: {sorted(unknown)}")
    values.update(extra)
    return values


def metrics_block(values: dict, units: dict) -> dict:
    return {name: {"value": values[name], "unit": units[name]} for name in units}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics},
        separators=(",", ":"),
    )


def headline_line(workload: str, seed: int, trace: int, metrics: dict, extra: dict) -> str:
    """Human-facing summary: ``metrics`` plus ``extra`` named values such as
    the failure ratio and per-call median walls."""
    line = json.dumps(
        {"workload": workload, "seed": seed, "trace": trace, "metrics": metrics, **extra},
        separators=(",", ":"),
    )
    if len(line.encode()) > MAX_LINE:
        raise ValueError(f"headline is {len(line.encode())} bytes, limit {MAX_LINE}")
    return line
