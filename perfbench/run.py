#!/usr/bin/env python3
"""Seeded benchmark of goffish_v3_spark.

    python3 perfbench/run.py --workload repo_pagerank --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run of one workload:

1. set-up (``setup_s``): start a ``local[<cores>]`` session with shuffle
   partitions equal to the cores, then build the input from the seed three
   times; ``setup_s`` = session start + the median build;
2. timed section: run the workload's operator calls in passes until
   ``--seconds`` have gone by (at least one pass); ``wall_s`` is the median
   pass. The first pass is cold: it includes the per-operator code
   generation and Python-worker start that a fresh batch job pays too. An
   untimed warm-up on a tiny input measured as long as the cold penalty it
   removed, and a run has to stay well under a minute;
3. ``--trace 1`` makes at least two untraced passes, then restarts the
   session with the Spark event log on, tags each call with a job group,
   runs one more pass and turns the log into the per-layer metrics
   (``perfbench/eventlog.py``); ``trace.overhead_frac`` compares that pass
   with the last untraced one, both in a warm JVM;
4. the last pass's outputs are checked independently (``perfbench/checks.py``).

Prints a headline line, then the result line. Everything the run writes
lives under ``.perfbench_work/`` (removed at exit) and ``perfbench/results/``
(the per-run detail file). ``--workload all`` runs every workload, one
process and one Spark session at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the first two are declared in BENCHMARK.json; skew_joins runs by name only
WORKLOAD_NAMES = ("repo_pagerank", "csr_subgraph", "skew_joins")
SETUP_BUILDS = 3
# a run must end within 180 s: stop starting untimed passes when the next one
# could overrun this budget (a traced pass, checks and shutdown come after)
PASS_BUDGET_S = {0: 130.0, 1: 100.0}


class CallFailed(Exception):
    pass


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside ``work``
    and make the package importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # get_spark defaults to a 32g driver; keep the heap well inside a small box
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def start_session(cores: int, work: str, event_log_dir: str | None = None):
    from goffish_v3_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # the default zstd codec needs a module this install lacks
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_log_dir,
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs a workload's calls and keeps the attempted/failed tally."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}

    def run_pass(self, ctx, spans=None) -> tuple[float, dict]:
        """One pass over the calls; returns (pass wall, {call: wall}).

        With ``spans`` (a list) each call runs under its own Spark job group
        and its wall-clock span is appended for the event-log parser."""
        from perfbench.eventlog import Span

        sc = ctx.spark.sparkContext
        walls = {}
        ctx.results = {}
        t_pass = time.perf_counter()
        for name, fn in self.workload.calls:
            if spans is not None:
                sc.setJobGroup(name, f"perfbench {self.workload.name}: {name}")
            self.attempted += 1
            start, t0 = time.time(), time.perf_counter()
            try:
                ctx.results[name] = fn(ctx)
            except Exception as exc:  # a failed call ends the run, reported
                self.failed += 1
                self.errors[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
                raise CallFailed(name) from exc
            finally:
                if spans is not None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            walls[name] = time.perf_counter() - t0
            if spans is not None:
                spans.append(Span(name, start, time.time()))
        return time.perf_counter() - t_pass, walls

    def check(self, ctx) -> dict:
        """Check the last pass's outputs; a failed check counts as a failed call."""
        verdicts = self.workload.check(ctx)
        for name, problem in verdicts.items():
            if problem is not None:
                self.failed += 1
                self.errors[name] = problem
        return verdicts


def block_megabytes(blocks) -> float:
    from pyspark.sql import functions as F

    binary = [f.name for f in blocks.schema.fields if f.dataType.typeName() == "binary"]
    total = blocks.select(sum(F.octet_length(c) for c in binary).alias("b")).agg(F.sum("b"))
    return (total.collect()[0][0] or 0) / 1e6


def run_one(args) -> int:
    deadline = time.perf_counter() + PASS_BUDGET_S[args.trace]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(work)

    from perfbench import eventlog, report
    from perfbench.workloads import WORKLOADS, Context, release

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    runner = Runner(wl)
    detail = {"workload": wl.name, "seed": args.seed, "trace": args.trace, "cores": cores}
    spark = None
    try:
        # ---- set-up: session start, input builds
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        session_s = time.perf_counter() - t0
        builds, inputs = [], {}
        for _ in range(SETUP_BUILDS):
            release(inputs.values())
            t0 = time.perf_counter()
            inputs = wl.build(spark, args.seed)
            builds.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(builds)
        detail["setup"] = {"session_s": session_s, "builds_s": builds}

        # ---- timed section, untraced
        ctx = Context(spark, cores, os.path.join(work, "run"), inputs)
        passes = []
        t_timed = time.perf_counter()
        while True:
            release((ctx.results or {}).values())
            pass_wall, walls = runner.run_pass(ctx)
            passes.append({"wall_s": pass_wall, "calls_s": walls})
            now = time.perf_counter()
            if now + 1.5 * pass_wall > deadline:
                break
            if now - t_timed >= args.seconds and len(passes) > args.trace:
                break
        detail["passes"] = passes
        detail["edges"] = ctx.inputs["edges_count"]
        wall_s = statistics.median(p["wall_s"] for p in passes)
        e2e = {"setup_s": setup_s, "wall_s": wall_s}

        # ---- traced pass in a fresh session with the event log on
        if args.trace:
            release(ctx.results.values())
            release(ctx.inputs.values())
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            spark = start_session(cores, work, event_log_dir=log_dir)
            ctx = Context(spark, cores, os.path.join(work, "traced"), wl.build(spark, args.seed))
            spans = []
            traced_wall, traced_calls = runner.run_pass(ctx, spans)
            detail["traced_pass"] = {"wall_s": traced_wall, "calls_s": traced_calls}
            extra = {
                "sources.edges": ctx.inputs["edges_count"],
                "trace.overhead_frac": traced_wall / passes[-1]["wall_s"] - 1.0,
            }
            if "csr_build" in ctx.results:
                extra["plans.csr_block_mb"] = block_megabytes(ctx.results["csr_build"])
            if "pagerank_converge" in ctx.results:
                extra["operators.pagerank_converge.supersteps"] = ctx.results["pagerank_converge"][1].supersteps

        t0 = time.perf_counter()
        detail["checks"] = runner.check(ctx)
        detail["checks_s"] = time.perf_counter() - t0
        release(ctx.results.values())
        release(ctx.inputs.values())
        spark.stop()

        if args.trace:
            layers = eventlog.layer_report(log_dir, spans, cores)
            detail["layers"] = layers
            values = report.per_layer_values(layers, [s.group for s in spans], extra)
            metrics = report.metrics_block(values, report.PER_LAYER)
        else:
            metrics = report.metrics_block(e2e, report.END_TO_END)
        detail["per_layer" if args.trace else "end_to_end"] = metrics
    except CallFailed:
        metrics = {}
        e2e = None
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    detail["attempted"], detail["failed"], detail["errors"] = runner.attempted, runner.failed, runner.errors
    detail_path = os.path.join(HERE, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1, default=str)

    correct = runner.failed == 0
    headline = {
        "failed_frac": runner.failed / max(runner.attempted, 1),
        "detail": os.path.relpath(detail_path, ROOT),
    }
    if e2e is not None:
        headline["calls_s"] = {
            name: statistics.median(p["calls_s"][name] for p in passes) for name, _ in wl.calls
        }
        if wl.name == "repo_pagerank":
            # BASELINE.json's north metric: 10 supersteps over |E| edges
            fixed10_s = headline["calls_s"]["pagerank_fixed10"]
            headline["pagerank_edges_per_s"] = {"value": 10 * detail["edges"] / fixed10_s, "unit": "edges/s"}
            headline["pagerank_converge_s"] = {"value": headline["calls_s"]["pagerank_converge"], "unit": "s"}
        headline_metrics = report.metrics_block(e2e, report.END_TO_END)
    else:
        headline_metrics = {}
    if runner.errors:
        headline["errors"] = {k: v[:120] for k, v in runner.errors.items()}
    print(report.headline_line(wl.name, args.seed, args.trace, headline_metrics, headline))
    print(report.result_line(correct, runner.attempted, runner.failed, metrics), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    from perfbench import report

    correct, attempted, failed, metrics, summary = True, 0, 0, {}, {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode not in (0, 1) or len(lines) < 2:
            print(f"{name}: run failed with exit code {out.returncode}", file=sys.stderr)
            return 1
        head, res = json.loads(lines[-2]), json.loads(lines[-1])
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update({f"{name}.{k}": v for k, v in res["metrics"].items()})
        summary[name] = {
            **head["metrics"],
            "failed_frac": {"value": head["failed_frac"], "unit": "ratio"},
            **{k: head[k] for k in ("pagerank_edges_per_s", "pagerank_converge_s") if k in head},
        }
    print(report.headline_line("all", args.seed, args.trace, summary, {}))
    print(report.result_line(correct, attempted, failed, metrics), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "goffish_v3_spark", "__init__.py")):
        print(f"goffish_v3_spark not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
