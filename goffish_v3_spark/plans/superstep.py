"""The superstep driver loop — BSP without Hama.

The reference's superstep machinery (hama GraphJobRunner.java:250-353: message
delivery → per-subgraph compute on a thread pool → barrier → heartbeat-based
global-halt consensus, :428-515,606-614) collapses in Spark to a Python driver
loop where each superstep is one DataFrame job: the shuffle boundary *is*
``peer.sync()``, the driver *is* the master, and convergence is a driver-side
aggregate — no distributed consensus protocol needed (SURVEY.md §2.A A1/A6/A7).

:class:`SuperstepLoop` is the ONE place a superstep job runs. An operator's
step only plans: it returns its next state un-materialized and, on the
supersteps that end a chain, the aggregate to observe (its *witness*). The
loop then owns the mechanics (north_rule requirements):
- **one job per materialized superstep**: ``observe(witness)`` +
  ``localCheckpoint(eager=True)`` materialize the state and read the
  convergence aggregate in the same Spark job, which also truncates lineage —
  iterative plans that reference the previous state grow without bound
  otherwise (SURVEY.md §7.3). Steps without a witness chain lazily into the
  next one;
- **convergence**: the observed value goes to the step's convergence test;
- **AQE off** for the whole loop (:func:`no_aqe`), and every job tagged
  ``<operator>:superstep=<i>`` as its Spark job description;
- **checkpoints**: with ``checkpoint_dir`` set, each superstep on the
  schedule (every ``checkpoint_every``-th and the last) is committed by ONE
  job — the parquet write of ``{root}/{run_id}/state/superstep=k``, which
  also observes the witness and the row count; the loop continues from that
  parquet, reread with the known schema. A superstep that converges off the
  schedule was already materialized by its witness job, so its commit costs
  one more job (the observed write). Per-partition counts, when asked for,
  cost one more job per commit (a ``groupBy`` over the committed parquet).
  The layout maps 1:1 onto an Iceberg partition spec on a cluster with the
  runtime jar, and any run is resumable from its last commit;
- **metrics**: per committed superstep one global row (rows, messages,
  delta, wall ms incl. the commit) plus, optionally, one row per non-empty
  partition — the analogue of the reference's GOFFISH3.PERF.* logs (hama
  GraphJobRunner.java:123-178,296-351). These rows and the resume manifest
  are written by the driver, not by Spark jobs, through the checkpoint
  root's Hadoop ``FileSystem`` — the same store as the state, whatever the
  scheme (``file://``, ``hdfs://``, ``s3a://``, or a plain local path).
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@contextmanager
def no_aqe(spark: SparkSession):
    """Pin AQE off for an iterative driver loop (restored on exit).

    Superstep plans are fixed-shape and re-executed dozens of times; AQE's
    runtime re-planning hurts there (it demotes the per-superstep
    state⋈adjacency join to broadcast-hash and re-broadcasts the whole
    vertex state every iteration — measured 41 s/18 s first-iteration spikes
    and ~25% slower steady state at 5.5M edges / 32 cores). Non-iterative
    operators keep AQE on.

    CONCURRENCY: this mutates the session-global conf — it assumes the
    single-threaded driver this engine uses throughout. Any plan compiled
    concurrently on the same SparkSession (another driver thread, a
    streaming micro-batch) would silently lose AQE, and nested/concurrent
    loops could race the restore. For a multi-threaded driver, scope the
    override with ``spark.newSession()`` per loop instead.
    """
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


@dataclass
class StepResult:
    """One superstep's output: the next state, un-materialized, plus its
    convergence signal.

    ``witness`` marks the end of a chain: an aggregate Column the loop
    observes while it materializes ``state`` (one job), recording the
    observed value as the superstep's ``delta``. A step without a witness is
    chained lazily into the next one — legal only while each step references
    the previous state once, otherwise the plan doubles per superstep and
    Catalyst analysis grows exponentially.

    ``converged`` is a bool or a test called with the observed witness value
    (``None`` when there is no witness or the aggregate saw no rows).
    """

    state: DataFrame
    converged: bool | Callable[[Any], bool]
    delta: float = float("nan")
    messages: int = -1
    witness: Column | None = None
    extra: dict = field(default_factory=dict)


StepFn = Callable[[DataFrame, int], StepResult]


@dataclass
class RunInfo:
    run_id: str
    supersteps: int
    converged: bool
    wall_s: float
    state: DataFrame


class _HadoopStore:
    """Small driver-side files (manifest, metrics parquet) on the Hadoop
    ``FileSystem`` of a checkpoint root, over py4j — the store Spark writes
    the state to, for any scheme. Every put writes a temp file and renames
    it onto the target, so a reader sees the old file or the new one, never
    a torn one (where the store's rename is atomic, e.g. HDFS and local)."""

    def __init__(self, spark: SparkSession, root: str):
        sc = spark.sparkContext
        hfs = sc._jvm.org.apache.hadoop.fs
        conf = sc._jsc.hadoopConfiguration()
        self._jvm = sc._jvm
        self._hpath = hfs.Path
        self._fs = hfs.Path(root).getFileSystem(conf)
        self._fc = hfs.FileContext.getFileContext(self._fs.getUri(), conf)
        self._overwrite = sc._gateway.new_array(hfs.Options.Rename, 1)
        self._overwrite[0] = hfs.Options.Rename.OVERWRITE

    def _path(self, path: str):
        return self._fs.makeQualified(self._hpath(path))

    def get(self, path: str) -> bytes | None:
        p = self._path(path)
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def put(self, path: str, data: bytes) -> None:
        p = self._path(path)
        # a leading dot hides the temp file from Spark's parquet reader
        tmp = self._hpath(p.getParent(), f".{p.getName()}.{uuid.uuid4().hex}")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        # FileSystem.rename refuses an existing target; this one replaces it
        self._fc.rename(tmp, p, self._overwrite)


class SuperstepLoop:
    """Drive ``step`` to convergence with checkpoint/resume + metrics.

    ``step(state, i)`` is the analogue of the user ``compute()`` hook
    (api AbstractSubgraphComputation.java:49) lifted to whole-DataFrame
    granularity; inside it, algorithms use cogrouped ``applyInPandas`` for
    partition-local kernels and plain DataFrame ops for exchanges. The step
    plans; the loop runs the jobs (see :class:`StepResult` and the module
    docstring): a witness step is one ``observe`` + ``localCheckpoint`` job,
    a scheduled checkpoint commit is one observed parquet write instead, and
    only a convergence off the checkpoint schedule costs two. The state the
    loop hands back is the step's output as returned (or its committed
    parquet), so operators that keep state and messages in one kind-tagged
    frame split it inside the next step.

    ``partition_expr`` adds per-partition row counts to each commit's
    metrics: it derives a state row's partition (e.g. ``vertex_part(vid,
    n)``), and one ``groupBy`` job over the committed parquet counts them.
    They are not observed by the write: an observed count per partition
    costs rows × partitions comparisons (first run, 200 k rows, 2000
    partitions, 4 cores: 40 s per superstep, against 2.3 s with the
    ``groupBy``).
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        run_id: str | None = None,
        max_iter: int = 100,
        checkpoint_every: int = 1,
        partition_expr: Column | None = None,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.max_iter = max_iter
        self.checkpoint_every = checkpoint_every
        self.partition_expr = partition_expr
        self._store = _HadoopStore(spark, checkpoint_dir) if checkpoint_dir else None

    # -- checkpoint layout -------------------------------------------------
    def _run_path(self) -> str:
        return f"{self.checkpoint_dir}/{self.run_id}"

    def _state_path(self, superstep: int) -> str:
        return f"{self._run_path()}/state/superstep={superstep}"

    def _metrics_path(self) -> str:
        return f"{self._run_path()}/metrics"

    def last_committed_superstep(self) -> int | None:
        if self._store is None:
            return None
        manifest = self._store.get(f"{self._run_path()}/manifest.json")
        return None if manifest is None else json.loads(manifest)["last_superstep"]

    def _write_state(
        self, state: DataFrame, superstep: int, witness: Column | None
    ) -> tuple[DataFrame, dict]:
        """Write ``state`` to the store in ONE job that also observes the
        row count and the witness (as ``w``); return the state reread —
        lineage-free — and the observed values."""
        path = self._state_path(superstep)
        aggs = [F.count(F.lit(1)).alias("rows")]
        if witness is not None:
            aggs.append(witness.alias("w"))
        obs = Observation(f"commit_{superstep}")
        state.observe(obs, *aggs).write.mode("overwrite").parquet(path)
        return self.spark.read.schema(state.schema).parquet(path), obs.get

    def _commit(
        self, superstep: int, state: DataFrame, metrics: dict, observed: dict
    ) -> None:
        """Record a written superstep: its metrics rows, then the manifest
        that makes it the resume point — driver-side files; the only Spark
        job is the per-partition count over the committed ``state``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [
            {
                "run_id": self.run_id,
                "superstep": superstep,
                "part": -1,
                "rows": observed["rows"],
                "msgs": metrics["msgs"],
                "wall_ms": metrics["wall_ms"],
                "delta": float(metrics["delta"]),
                "extra": json.dumps(metrics.get("extra", {})),
            }
        ]
        if self.partition_expr is not None:
            counts = state.groupBy(self.partition_expr.alias("part")).count()
            rows += [
                {
                    "run_id": self.run_id,
                    "superstep": superstep,
                    "part": int(r["part"]),
                    "rows": int(r["count"]),
                    "msgs": -1,
                    "wall_ms": -1,
                    "delta": float("nan"),
                    "extra": "{}",
                }
                for r in counts.collect()
            ]
        schema = pa.schema(
            [
                ("run_id", pa.string()),
                ("superstep", pa.int32()),
                ("part", pa.int32()),
                ("rows", pa.int64()),
                ("msgs", pa.int64()),
                ("wall_ms", pa.int64()),
                ("delta", pa.float64()),
                ("extra", pa.string()),
            ]
        )
        buf = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), buf)
        self._store.put(
            f"{self._metrics_path()}/superstep-{superstep:06d}.parquet",
            buf.getvalue().to_pybytes(),
        )
        manifest = {"run_id": self.run_id, "last_superstep": superstep}
        self._store.put(f"{self._run_path()}/manifest.json", json.dumps(manifest).encode())

    # -- driver loop ---------------------------------------------------------
    def run(self, init_state: DataFrame, step: StepFn, resume: bool = False) -> RunInfo:
        sc = self.spark.sparkContext
        prev_description = sc.getLocalProperty("spark.job.description")
        try:
            with no_aqe(self.spark):
                return self._run(init_state, step, resume)
        finally:
            sc.setJobDescription(prev_description)

    def _run(self, init_state: DataFrame, step: StepFn, resume: bool) -> RunInfo:
        t0 = time.monotonic()
        sc = self.spark.sparkContext
        op = getattr(step, "__module__", "").rpartition(".")[2] or "step"
        start = 0
        state = init_state
        if resume:
            last = self.last_committed_superstep()
            if last is not None:
                state = self.spark.read.parquet(self._state_path(last))
                start = last + 1

        converged = False
        i = start
        for i in range(start, self.max_iter):
            sc.setJobDescription(f"{op}:superstep={i}")
            ts = time.monotonic()
            res = step(state, i)
            # the schedule is known before the job runs: those commits ride
            # the superstep's one job
            scheduled = self._store is not None and (
                i % self.checkpoint_every == 0 or i == self.max_iter - 1
            )
            observed: dict = {}
            if scheduled:
                state, observed = self._write_state(res.state, i, res.witness)
            elif res.witness is not None:
                obs = Observation(f"superstep_{i}")
                state = res.state.observe(obs, res.witness.alias("w")).localCheckpoint(
                    eager=True
                )
                observed = obs.get
            else:
                state = res.state
            value = observed.get("w")
            delta = res.delta
            if res.witness is not None:
                delta = float("nan") if value is None else float(value)
            converged = res.converged(value) if callable(res.converged) else res.converged
            if self._store is not None and (scheduled or converged):
                if not scheduled:
                    state, observed = self._write_state(state, i, None)
                metrics = {
                    "msgs": res.messages,
                    "wall_ms": int((time.monotonic() - ts) * 1000),
                    "delta": delta,
                    "extra": res.extra,
                }
                self._commit(i, state, metrics, observed)
            if converged:
                i += 1
                break
        else:
            i = self.max_iter

        return RunInfo(
            run_id=self.run_id,
            supersteps=i - start,
            converged=converged,
            wall_s=time.monotonic() - t0,
            state=state,
        )

    def metrics(self) -> DataFrame | None:
        if not self.checkpoint_dir:
            return None
        return self.spark.read.parquet(self._metrics_path())
