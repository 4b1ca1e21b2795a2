"""Unit tests of the benchmark's event-log parser, output lines and checks.

    python3 -m pytest perfbench/tests -q

The parser runs on a small event log recorded from Spark 4.1.2 by
``record_fixture.py``; nothing here starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import checks, eventlog, report  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(FIXTURES, "spans.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    spans = [eventlog.Span(**s) for s in meta["spans"]]
    return meta, spans, eventlog.layer_report(FIXTURES, spans, cores=2)


def test_event_files_follow_rolling_index(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for i in (10, 2, 1):
        (app / f"events_{i}_local-1").write_text("")
    (app / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_missing_log_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        list(eventlog.read_events(str(tmp_path)))


def test_union_length_merges_overlaps():
    assert eventlog.union_length([]) == 0.0
    assert eventlog.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_python_worker_metrics_are_attributed_in_milliseconds_and_bytes(recorded):
    meta, _, rep = recorded
    sleepy, joiny = rep["calls"]["sleepy"], rep["calls"]["joiny"]
    # every group slept sleep_s inside the Python worker: "time to run Python
    # workers" must cover it, which it only does read as milliseconds
    assert sleepy["py_run_s"] >= meta["groups"] * meta["sleep_s"]
    assert sleepy["py_run_s"] <= sleepy["wall_s"] * 2  # 2 cores
    # 20 000 (k, id) long pairs cross the Arrow boundary: ~320 kB plus framing
    assert 0.3 < sleepy["to_py_mb"] < 1.0
    assert joiny["py_run_s"] == 0 and joiny["to_py_mb"] == 0
    assert joiny["shuffle_write_mb"] > 0
    assert rep["pyworker"]["run_s"] == pytest.approx(sleepy["py_run_s"])


def test_driver_idle_plus_job_union_is_the_call_wall(recorded):
    _, spans, rep = recorded
    for s in spans:
        call = rep["calls"][s.group]
        assert call["jobs"] >= 1
        assert 0 <= call["driver_idle_s"] <= call["wall_s"]
        assert call["driver_idle_s"] + call["jobs_union_s"] == pytest.approx(call["wall_s"])


def test_run_totals_are_sums_over_calls(recorded):
    _, _, rep = recorded
    spark = rep["spark"]
    assert spark["jobs"] == sum(c["jobs"] for c in rep["calls"].values())
    assert spark["shuffle_write_mb"] == pytest.approx(
        sum(c["shuffle_write_mb"] for c in rep["calls"].values())
    )
    assert spark["tasks"] >= spark["stages"] >= spark["jobs"]
    assert 0 < spark["busy_frac"] <= 1
    assert spark["executor_cpu_s"] <= spark["executor_run_s"] * 1.5
    assert rep["driver"]["idle_s"] == pytest.approx(
        sum(c["driver_idle_s"] for c in rep["calls"].values())
    )


def test_per_layer_values_name_every_metric(recorded):
    _, _, rep = recorded
    calls = {"ingest": rep["calls"]["sleepy"], "csr_build": rep["calls"]["joiny"], "random_walks": {}}
    values = report.per_layer_values(dict(rep, calls=calls), list(calls), {"sources.edges": 7})
    assert values.keys() == report.PER_LAYER.keys()
    assert values["sources.ingest_s"] == values["operators.ingest.wall_s"] > 0
    assert values["plans.csr_build_s"] == values["operators.csr_build.wall_s"] > 0
    assert values["operators.lpa_csr.jobs"] == 0
    with pytest.raises(KeyError):
        report.per_layer_values(rep, [], {"not.a.metric": 1})


def test_headline_parses_and_stays_under_2kb():
    values = {"setup_s": 9.123456789012345, "wall_s": 19.87654321098765}
    metrics = report.metrics_block(values, report.END_TO_END)
    extra = {
        "failed_frac": 0.0,
        "detail": "perfbench/results/repo_pagerank-seed123456-trace0.json",
        "calls_s": {op: 12.345678901234567 for op in report.OPERATOR_CALLS},
        "pagerank_edges_per_s": {"value": 123456.78901234567, "unit": "edges/s"},
        "pagerank_converge_s": {"value": 10.123456789012345, "unit": "s"},
    }
    line = report.headline_line("repo_pagerank", 123456, 0, metrics, extra)
    assert len(line.encode()) < report.MAX_LINE
    parsed = json.loads(line)
    assert parsed["seed"] == 123456
    assert parsed["metrics"]["wall_s"] == {"value": values["wall_s"], "unit": "s"}
    with pytest.raises(ValueError):
        report.headline_line("x", 1, 0, metrics, {"pad": "x" * report.MAX_LINE})


def test_result_line_has_exactly_the_contract_keys():
    line = report.result_line(True, 3, 0, {"wall_s": {"value": 1.5, "unit": "s"}})
    assert set(json.loads(line)) == {"correct", "attempted", "failed", "metrics"}


def test_benchmark_json_declares_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
    from perfbench.run import WORKLOAD_NAMES

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOAD_NAMES[:2])


def test_pagerank_reference_matches_hand_computed_fixed_point():
    # 0 -> 1 -> 0 cycle plus 2 -> 0: N=3, in-sums known after one update
    vids, rank, steps = checks.pagerank_reference([0, 1, 2, 2], [1, 0, 0, 0], fixed_iterations=1)
    assert steps == 1 and list(vids) == [0, 1, 2]
    base = 0.15 / 3
    assert rank == pytest.approx([base + 0.85 * (2 / 3), base + 0.85 / 3, base])


def test_triangle_reference_counts_each_triangle_once():
    k4 = pd.DataFrame({"src": [0, 0, 0, 1, 1, 2, 1], "dst": [1, 2, 3, 2, 3, 3, 0]})
    assert checks.triangle_reference(k4) == 4


def test_walk_reference_stays_on_dead_ends_and_follows_edges():
    src, dst = np.array([1, 1, 2]), np.array([2, 3, 1])
    starts, path = checks.walk_reference(src, dst, length=3)
    assert list(starts) == [1, 2, 3]
    assert list(path[2]) == [3, 3, 3, 3]  # vertex 3 has no out-edges
    for row in path:
        for a, b in zip(row[:-1], row[1:]):
            assert (a, b) in {(1, 2), (1, 3), (2, 1)} or (a == b == 3)


def test_check_walks_rejects_a_changed_hop():
    edges = pd.DataFrame({"src": [1, 1, 2], "dst": [2, 3, 1]})
    starts, path = checks.walk_reference(edges["src"], edges["dst"], length=2)
    rows = [(s, 0, i, v) for s, p in zip(starts, path) for i, v in enumerate(p)]
    out = pd.DataFrame(rows, columns=["start_vid", "walk", "step", "vid"])
    assert checks.check_walks(edges, out, 2) is None
    out.loc[1, "vid"] = 99
    assert checks.check_walks(edges, out, 2) is not None
