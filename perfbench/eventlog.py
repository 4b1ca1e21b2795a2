"""Per-layer accounting from a Spark event log.

The benchmark tags every operator call with a Spark job group
(``SparkContext.setJobGroup``) and records the call's wall-clock span itself.
After the run, :func:`layer_report` reads the uncompressed event log that
Spark 4.1 writes in its rolling layout (``<dir>/eventlog_v2_<app>/events_<n>_<app>``)
and attributes every job, stage and task to a call through the
``spark.jobGroup.id`` property. Jobs outside the tagged calls (set-up,
output checks) are ignored.

Units as Spark records them (checked on Spark 4.1.2 against a grouped-map
stage whose Python time and Arrow volume were known): event times and
``Executor Run Time`` / ``JVM GC Time`` / ``Fetch Wait Time`` are
milliseconds, ``Executor CPU Time`` is nanoseconds, byte counters are bytes.
The Python-worker SQL metrics are timing metrics in milliseconds ("time to
start/initialize/run Python workers") and size metrics in bytes ("data sent
to/returned from Python workers").
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

MB = 1e6

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
_PY_METRICS = (PY_SENT, PY_RETURNED, PY_START, PY_INIT, PY_RUN)

_WANTED = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}
_EVENT_NAME = re.compile(r'^\{"Event":"([A-Za-z.]+)"')


@dataclass
class Span:
    """One operator call as the benchmark saw it: job group and wall span (epoch s)."""

    group: str
    start: float
    end: float


@dataclass
class _Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_b: float = 0.0
    peak_mem_b: float = 0.0
    output_b: float = 0.0
    straggler_ms: float = 0.0
    py: dict = field(default_factory=lambda: dict.fromkeys(_PY_METRICS, 0.0))
    job_intervals: list = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """The event files of every application under ``log_dir``, in write order."""

    def index(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    files = []
    for app_dir in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files += sorted(glob.glob(os.path.join(app_dir, "events_*")), key=index)
    return files


def read_events(log_dir: str):
    """Yield the job, stage and task events of the logs under ``log_dir``.

    Other events (notably SQL execution starts, whose plan text dominates the
    file) are skipped by name before JSON decoding."""
    files = event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no eventlog_v2_*/events_* files under {log_dir}")
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                m = _EVENT_NAME.match(line)
                if m and m.group(1) in _WANTED:
                    yield json.loads(line)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _collect(events, groups: set[str]) -> dict[str, _Counters]:
    acc = {g: _Counters() for g in groups}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    task_ms: dict[tuple[int, int], list[float]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g in acc:
                job_group[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(ev["Job ID"])
            if g is not None:
                c = acc[g]
                c.jobs += 1
                c.job_intervals.append(
                    (job_start[ev["Job ID"]] / 1e3, ev["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g in acc:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is not None and "Failure Reason" not in info:
                acc[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            c = acc[g]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            c.tasks += 1
            task_ms.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), []).append(
                info["Finish Time"] - info["Launch Time"]
            )
            c.run_ms += m.get("Executor Run Time", 0)
            c.cpu_ns += m.get("Executor CPU Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.spill_b += m.get("Disk Bytes Spilled", 0)
            c.peak_mem_b = max(c.peak_mem_b, m.get("Peak Execution Memory", 0))
            c.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            for a in info.get("Accumulables", []):
                if a.get("Name") in c.py:
                    c.py[a["Name"]] += float(a.get("Update") or 0)
    for (sid, _), durations in task_ms.items():
        acc[stage_group[sid]].straggler_ms += max(durations) - statistics.median(durations)
    return acc


def layer_report(log_dir: str, spans: list[Span], cores: int) -> dict:
    """Per-call and per-run layer metrics for the tagged ``spans``.

    Returns ``{"calls": {group: {...}}, "spark": {...}, "pyworker": {...},
    "driver": {...}}``. A call's ``driver_idle_s`` is its wall minus the union
    of its jobs' intervals clipped to the call, so ``driver_idle_s +
    jobs_union_s == wall_s`` holds by construction; jobs of one call overlap
    (AQE and broadcast sub-jobs), which is why the union, not the sum, is
    subtracted."""
    acc = _collect(read_events(log_dir), {s.group for s in spans})
    calls = {}
    for s in spans:
        c = acc[s.group]
        wall = s.end - s.start
        clipped = [
            (max(a, s.start), min(b, s.end)) for a, b in c.job_intervals if b > s.start and a < s.end
        ]
        busy = union_length(clipped)
        calls[s.group] = {
            "wall_s": wall,
            "jobs": c.jobs,
            "jobs_union_s": busy,
            "driver_idle_s": wall - busy,
            "py_run_s": c.py[PY_RUN] / 1e3,
            "to_py_mb": c.py[PY_SENT] / MB,
            "shuffle_write_mb": c.shuffle_write_b / MB,
        }
    cs = list(acc.values())
    wall = sum(s.end - s.start for s in spans)
    run_s = sum(c.run_ms for c in cs) / 1e3
    return {
        "calls": calls,
        "spark": {
            "jobs": sum(c.jobs for c in cs),
            "stages": sum(c.stages for c in cs),
            "tasks": sum(c.tasks for c in cs),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(c.cpu_ns for c in cs) / 1e9,
            "gc_s": sum(c.gc_ms for c in cs) / 1e3,
            "shuffle_write_mb": sum(c.shuffle_write_b for c in cs) / MB,
            "shuffle_read_mb": sum(c.shuffle_read_b for c in cs) / MB,
            "fetch_wait_s": sum(c.fetch_wait_ms for c in cs) / 1e3,
            "spill_mb": sum(c.spill_b for c in cs) / MB,
            "peak_exec_mem_mb": max((c.peak_mem_b for c in cs), default=0.0) / MB,
            "output_mb": sum(c.output_b for c in cs) / MB,
            "straggler_s": sum(c.straggler_ms for c in cs) / 1e3,
            "busy_frac": run_s / (cores * wall) if wall > 0 else 0.0,
        },
        "pyworker": {
            "to_py_mb": sum(c.py[PY_SENT] for c in cs) / MB,
            "from_py_mb": sum(c.py[PY_RETURNED] for c in cs) / MB,
            "init_s": sum(c.py[PY_START] + c.py[PY_INIT] for c in cs) / 1e3,
            "run_s": sum(c.py[PY_RUN] for c in cs) / 1e3,
        },
        "driver": {"idle_s": sum(c["driver_idle_s"] for c in calls.values())},
    }
