"""Superstep loop: checkpoint/resume + metrics table (north_rule gates)."""

import uuid

import pyspark.sql.functions as F

from goffish_v3_spark.plans.superstep import StepResult, SuperstepLoop
from tests import graphs


def _inc_step(spark):
    def step(state, i):
        new = state.withColumn("x", F.col("x") + 1)
        return StepResult(new, converged=False, delta=1.0, messages=0)

    return step


def _witness_step(converged):
    """x += 1 with ``max(x)`` as the observed witness every superstep."""

    def step(state, i):
        new = state.withColumn("x", F.col("x") + 1)
        return StepResult(new, converged, witness=F.max("x"))

    return step


def _jobs_in_group(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_runs_max_iter_and_counts(spark):
    init = spark.range(10).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    # without a witness the steps chain lazily; with one whose test never
    # passes every step is materialized — both run to max_iter
    for step in (_inc_step(spark), _witness_step(lambda top: False)):
        loop = SuperstepLoop(spark, max_iter=5)
        info = loop.run(init, step)
        assert info.supersteps == 5
        assert not info.converged
        assert all(r.x == 5 for r in info.state.collect())


def test_checkpoint_resume_continues(spark, tmp_path):
    ckpt = str(tmp_path)
    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    loop = SuperstepLoop(spark, checkpoint_dir=ckpt, run_id="r", max_iter=3)
    loop.run(init, _inc_step(spark))
    assert loop.last_committed_superstep() == 2

    loop2 = SuperstepLoop(spark, checkpoint_dir=ckpt, run_id="r", max_iter=7)
    info = loop2.run(init, _inc_step(spark), resume=True)
    # resumed from superstep 3, ran 4 more
    assert info.supersteps == 4
    assert all(r.x == 7 for r in info.state.collect())


def test_metrics_rows_written(spark, tmp_path):
    ckpt = str(tmp_path)
    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    loop = SuperstepLoop(spark, checkpoint_dir=ckpt, run_id="m", max_iter=3)
    loop.run(init, _inc_step(spark))
    m = loop.metrics()
    rows = m.filter(F.col("part") == -1).collect()
    assert {r.superstep for r in rows} == {0, 1, 2}
    assert all(r.run_id == "m" for r in rows)
    assert set(m.columns) >= {"run_id", "superstep", "part", "rows", "msgs", "wall_ms", "delta", "extra"}

    # a witness step records its observed value as the superstep's delta
    loop = SuperstepLoop(spark, checkpoint_dir=ckpt, run_id="w", max_iter=3)
    loop.run(init, _witness_step(False))
    rows = loop.metrics().filter(F.col("part") == -1).collect()
    assert {r.superstep: r.delta for r in rows} == {0: 1.0, 1: 2.0, 2: 3.0}


def test_uri_root_keeps_manifest_on_the_store(spark, tmp_path, monkeypatch):
    """A scheme-qualified checkpoint root (``file://``, ``hdfs://``, ...)
    keeps the manifest and metrics next to the state on that store — not
    in a ``file:`` directory under the driver's working directory — and a
    resume finds them."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    store = tmp_path / "store"
    root = "file://" + str(store)
    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    loop = SuperstepLoop(spark, checkpoint_dir=root, run_id="u", max_iter=3)
    loop.run(init, _inc_step(spark))
    assert (store / "u" / "manifest.json").is_file()
    assert list(cwd.iterdir()) == []
    assert {r.superstep for r in loop.metrics().collect()} == {0, 1, 2}

    loop2 = SuperstepLoop(spark, checkpoint_dir=root, run_id="u", max_iter=5)
    info = loop2.run(init, _inc_step(spark), resume=True)
    assert info.supersteps == 2  # continued from superstep 3
    assert all(r.x == 5 for r in info.state.collect())
    assert loop2.last_committed_superstep() == 4
    assert list(cwd.iterdir()) == []


def test_commit_is_one_job_per_superstep(spark, tmp_path):
    """A superstep committed on the checkpoint schedule costs ONE Spark job:
    the parquet write observes the witness and the row count; the manifest
    and metrics rows are driver-side files. Per-partition counts add one
    ``groupBy`` job per commit. A convergence off the schedule costs at
    most two (the witness job, then the observed write)."""
    init = spark.range(8).select(
        F.col("id").alias("vid"), F.lit(0).alias("x")
    ).localCheckpoint(eager=True)
    part = F.pmod(F.col("vid"), F.lit(3)).cast("int")
    for run_id, expr, jobs_per_commit in (("j", None, 1), ("p", part, 2)):
        loop = SuperstepLoop(
            spark, checkpoint_dir=str(tmp_path), run_id=run_id, max_iter=4,
            checkpoint_every=1, partition_expr=expr,
        )
        info, jobs = _jobs_in_group(
            spark, lambda: loop.run(init, _witness_step(False))
        )
        assert info.supersteps == 4
        assert jobs == 4 * jobs_per_commit
        m = loop.metrics()
        glob = {r.superstep: r for r in m.filter(F.col("part") == -1).collect()}
        assert {s: (r.rows, r.delta) for s, r in glob.items()} == {
            s: (8, float(s + 1)) for s in range(4)
        }
    per_part = m.filter(F.col("part") >= 0).collect()
    assert sorted((r.superstep, r.part, r.rows) for r in per_part) == [
        (s, p, n) for s in range(4) for p, n in enumerate((3, 3, 2))
    ]

    # superstep 0 is on the schedule, superstep 1 converges off it
    loop = SuperstepLoop(
        spark, checkpoint_dir=str(tmp_path), run_id="o", max_iter=10,
        checkpoint_every=5,
    )
    info, jobs = _jobs_in_group(
        spark, lambda: loop.run(init, _witness_step(lambda top: top >= 2))
    )
    assert info.converged and info.supersteps == 2
    assert jobs <= 1 + 2
    assert loop.last_committed_superstep() == 1
    assert all(r.x == 2 for r in info.state.collect())
    rows = loop.metrics().filter(F.col("part") == -1).collect()
    assert {r.superstep: (r.rows, r.delta) for r in rows} == {0: (8, 1.0), 1: (8, 2.0)}


def test_jobs_tagged_with_operator_and_superstep(spark):
    """Every superstep's jobs carry ``<op>:superstep=<i>`` as their Spark
    job description (op = the step's module); the caller's description is
    restored when the loop exits."""
    sc = spark.sparkContext
    seen = []
    witness = _witness_step(False)

    def step(state, i):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return witness(state, i)

    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    sc.setJobDescription("outer")
    try:
        SuperstepLoop(spark, max_iter=3).run(init, step)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)
    assert seen == [f"test_superstep:superstep={i}" for i in range(3)]


def test_convergence_stops_early(spark):
    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))

    def step(state, i):
        new = state.withColumn("x", F.col("x") + 1)
        return StepResult(new, converged=(i == 2), delta=0.0)

    # a bool set by the step, or a test on the observed witness (max x
    # reaches 3 on superstep 2)
    for st in (step, _witness_step(lambda top: top >= 3)):
        info = SuperstepLoop(spark, max_iter=10).run(init, st)
        assert info.converged
        assert info.supersteps == 3
        assert all(r.x == 3 for r in info.state.collect())


def test_witness_steps_materialize_once(spark):
    """The loop runs ONE job per witness step (observe + localCheckpoint)
    and none for the lazily chained steps between witnesses; every
    superstep's rows are computed exactly once."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        calls.add(1)
        return x + 1

    def step(state, i):
        new = state.withColumn("x", bump("x"))
        if i % 2 == 1:
            return StepResult(new, False, witness=F.max("x"))
        return StepResult(new, False)

    init = spark.range(8).select(
        F.col("id").alias("vid"), F.lit(0).cast("long").alias("x")
    ).localCheckpoint(eager=True)
    info, jobs = _jobs_in_group(
        spark, lambda: SuperstepLoop(spark, max_iter=6).run(init, step)
    )
    assert info.supersteps == 6
    assert jobs == 3
    assert calls.value == 6 * 8
    assert all(r.x == 6 for r in info.state.collect())
    assert calls.value == 6 * 8  # the final state is materialized


def test_operators_run_one_job_per_superstep(spark):
    """Every superstep of a SuperstepLoop-driven operator is ONE Spark job.
    SETUP is the most setup/finalize jobs (CSR build, N, init and result
    checkpoints) any of these calls needs, measured on this graph; a
    per-superstep count() or collect() would push past it."""
    from goffish_v3_spark.operators.lpa import lpa_csr
    from goffish_v3_spark.operators.sssp import sssp_csr
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank
    from goffish_v3_spark.operators.wcc import wcc

    setup = 9
    df = graphs.to_df(spark, graphs.barabasi_albert(100, m=2, seed=7))
    runs = {
        "csr_pagerank": lambda: csr_pagerank(
            spark, df, num_parts=4, fixed_iterations=6
        ).pr_supersteps,
        "sssp_csr": lambda: sssp_csr(
            spark, df, source=0, directed=False, num_parts=4
        ).sssp_supersteps,
        "lpa_csr": lambda: lpa_csr(spark, df, num_parts=4).lpa_supersteps,
    }
    for name, run in runs.items():
        supersteps, jobs = _jobs_in_group(spark, run)
        assert supersteps >= 5, (name, supersteps)
        assert jobs <= supersteps + setup, (name, supersteps, jobs)

    # wcc reports no superstep count: cap its meta-graph rounds with
    # max_iter on a path whose contracted meta graph needs more rounds than
    # that. Its per-round plan also broadcasts the small label mapping,
    # which Spark runs as a job of its own — two jobs per round; the
    # setup (local union-find, meta edges, result) is 23 jobs.
    path = spark.createDataFrame([(i, i + 1) for i in range(60)], "src long, dst long")
    rounds = 4
    _, jobs = _jobs_in_group(
        spark, lambda: wcc(spark, path, num_parts=4, max_iter=rounds).count()
    )
    assert jobs <= 2 * rounds + 23, jobs


def test_pagerank_partition_metrics_persisted(spark, tmp_path):
    """north_rule: per-partition lineage + metrics — a checkpointed PageRank
    run with partition_metrics=True persists per-(superstep, part) row
    counts next to the state store, readable back as parquet (VERDICT r3 #9)."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.pagerank import pagerank_with_info
    from tests import graphs

    df = graphs.to_df(spark, graphs.barabasi_albert(120, m=2, seed=3))
    scores, info = pagerank_with_info(
        spark,
        df,
        fixed_iterations=3,
        checkpoint_dir=str(tmp_path),
        checkpoint_every=1,
        partition_metrics=True,
    )
    n_vertices = scores.count()
    m = spark.read.parquet(f"{tmp_path}/{info.run_id}/metrics")
    # one global row (part=-1) per committed superstep
    assert m.filter(F.col("part") == -1).count() == 3
    # per-partition rows cover every vertex exactly once per superstep
    per_part = (
        m.filter(F.col("part") >= 0)
        .groupBy("superstep")
        .agg(F.sum("rows").alias("total"))
        .collect()
    )
    assert len(per_part) == 3
    assert all(r.total == n_vertices for r in per_part)


def test_partition_first_dedup_is_single_exchange(spark):
    """The one-exchange setup layout (pagerank/sssp/lpa/csr builders) rests
    on Spark's subset-clustering rule: HashPartitioning(src) must satisfy
    the ClusteredDistribution of a (src,dst) dedup, a groupBy(src) and a
    src-join without further exchanges. Guard it against Spark upgrades by
    counting Exchange nodes in the optimized plan."""
    from pyspark.sql import functions as F

    e = spark.range(1000).select(
        (F.col("id") % 50).alias("src"), ((F.col("id") * 13 + 7) % 50).alias("dst")
    )
    # planner-inserted shuffles print ENSURE_REQUIREMENTS; the one
    # deliberate user repartition prints REPARTITION_BY_NUM — the dedup,
    # groupBy and join must add ZERO of the former
    deduped = e.repartition(8, "src").dropDuplicates(["src", "dst"])
    dplan = deduped._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in dplan, dplan
    assert dplan.count("REPARTITION_BY_NUM") == 1, dplan
    # cached (as the operators do), the out-degree groupBy and the src-join
    # add NO shuffle exchange on top of the cached partitioning
    deduped = deduped.persist()
    try:
        deduped.count()
        outdeg = deduped.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        adj = deduped.join(outdeg.hint("merge"), "src")
        plan = adj._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "ENSURE_REQUIREMENTS" not in plan, (
            "planner inserted a shuffle over the cached src-partitioned "
            f"table:\n{plan}"
        )
    finally:
        deduped.unpersist()
