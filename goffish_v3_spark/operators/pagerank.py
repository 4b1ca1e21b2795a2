"""PageRank with the reference's exact semantics.

Reproduces sample-hama PageRank.java:19-149 (update rule at :107):
``rank' = ALPHA · Σ_in(rank_u / outdeg_u) + (1 − ALPHA)/N``, ALPHA = 0.85,
converged when **every** |Δ| ≤ EPSILON (= 1e-3 in the reference; the
all-converged gate at :108-116 becomes our driver-side ``max(abs(Δ)) ≤ ε``).
Notably there is **no dangling-mass redistribution** — vertices without
out-edges simply leak rank (reference behaviour, see SURVEY.md §7.3) — and N
counts *all* vertices (src ∪ dst).

Spark shape per superstep (one job):

    contrib = state ⋈ adj on vid=src          -- adj pre-annotated with outdeg
            → groupBy(dst).agg(sum(rank/deg)) -- map-side partial agg = the
                                              -- reference's local/remote sum
                                              -- split (PageRank.java:120-141)
    rank'   = α·contrib + (1−α)/N             -- left join back onto state
    delta   = agg(max(abs(rank' − rank)))     -- driver convergence gate

The contribution aggregation is skew-safe via partial (map-side) aggregation:
reducer fan-in per hot dst is bounded by the mapper count, not its in-degree.
AQE skew-join handles out-degree skew on the state⋈adj side. The opt-in
``salt_threshold`` mode salts both axes inline (hubs found with
``plans.partitioner.heavy_keys``); the generic salting utilities in
plans.partitioner are called by no operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.superstep import RunInfo, StepResult, SuperstepLoop

ALPHA = 0.85
EPSILON = 1e-3


def pagerank_with_info(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = ALPHA,
    eps: float = EPSILON,
    max_iter: int = 100,
    fixed_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume: bool = False,
    checkpoint_every: int = 5,
    chain_every: int = 5,
    salt_threshold: int | None = None,
    num_salts: int = 32,
    dense_ids: bool = False,
    partition_metrics: bool = False,
    teleport_vid: int | None = None,
) -> tuple[DataFrame, RunInfo]:
    """Run PageRank; return (scores ``(vid, rank)``, RunInfo).

    ``teleport_vid`` switches to personalized PageRank: all teleport mass
    (the ``1−α`` term) lands on that single vertex instead of spreading
    uniformly, and the walk starts there (init = indicator). Same superstep
    plan — the only change is the teleport term becoming a per-vertex
    expression — so every scale property (one-exchange setup, chaining,
    salting) carries over. Incompatible with ``dense_ids`` (the remap would
    silently re-address the teleport target; raises).

    ``fixed_iterations`` disables the ε-gate and runs exactly that many rank
    updates (used by SQL-oracle comparisons, which unroll a fixed count).

    ``salt_threshold`` enables explicit hub salting (north_rule, SURVEY §4
    P13) on both skew axes, folded into one salt-annotated adjacency at
    setup: destinations whose in-degree exceeds the threshold get a
    two-stage salted contribution aggregation (per-reducer fan-in bounded by
    ``num_salts`` × mappers regardless of in-degree), and sources whose
    out-degree exceeds it get a join salt — their state row is replicated
    across ``num_salts`` so the hub's adjacency, which plain src-hash
    partitioning would hand to ONE sort-merge-join task, spreads over
    ``num_salts`` tasks. Each stage activates only when its axis actually
    has hubs; cold keys keep the plain path (salt 0). Results are identical
    either way (sums reassociate) and the step still references state
    exactly once, so superstep chaining stays legal.

    **Measured guidance (r3/r4, BENCH/BASELINE.md "hub salting"):** leave
    this OFF by default. Spark's map-side partial aggregation already
    bounds in-degree-hub reducer fan-in, and at local[32] the salted plan
    ran 0.6–0.9× the unsalted one on every fixture tried, including a
    purpose-built 2M-out-degree hub. Enabling it emits a UserWarning. It
    exists for the regime where one straggler join task provably dominates
    a superstep wave (profile first).

    ``dense_ids`` remaps the (64-bit, xxhash64-range) vertex ids to dense
    int32 before the loop and back after: every per-superstep row (adjacency
    scan, contribution shuffle keys, state) narrows by 4-12 bytes, which is
    real bandwidth on a memory-bound superstep and the right shape when
    xxhash64 ids at 10^12 keys would otherwise flow through every shuffle.
    One-time cost: a distributed zipWithIndex + two remap joins. The remap
    is deterministic within a run but not across processes — incompatible
    with ``resume`` (raises).
    """
    if dense_ids and resume:
        raise ValueError("dense_ids remap is per-run; resume needs stable vids")
    if dense_ids and teleport_vid is not None:
        raise ValueError(
            "teleport_vid addresses original vertex ids; dense_ids would "
            "silently remap it — use one or the other"
        )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # ONE edge-table exchange for the whole setup: hash-partition by src
    # once, then dedup on (src,dst), the out-degree groupBy("src") and the
    # adjacency join are all partition-local — HashPartitioning(src)
    # satisfies every downstream clustering requirement (src is a subset of
    # each grouping/join key set), so Catalyst inserts no further exchange
    # and the cached adjacency inherits exactly the (src, n_shuffle)
    # partitioning the per-superstep state⋈adj join needs. The previous
    # shape paid four edge-size exchanges here (distinct by (src,dst),
    # groupBy(src), the join, and an explicit repartition) — measured 14.2 s
    # of a 37.5 s 10-superstep run at 5.5 M edges / 4 cores. Skew note: a
    # giant out-degree hub lands in one setup partition, but that is the
    # same src-partitioned layout the adjacency cache uses by design; the
    # salted mode spreads it when enabled.
    e = (
        edges.select("src", "dst")
        .repartition(n_shuffle, "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    vertices = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    n = vertices.count()
    if n == 0:
        empty = spark.createDataFrame([], "vid long, rank double")
        e.unpersist()
        return empty, RunInfo(run_id="empty", supersteps=0, converged=True,
                              wall_s=0.0, state=empty)
    dim = None
    if dense_ids:
        if n >= 2**31:
            raise ValueError(
                f"dense_ids int32 remap overflows at {n} vertices (≥ 2^31); "
                "run with dense_ids=False for wider id spaces"
            )
        rdd = (
            vertices.rdd.map(lambda r: r["vid"])
            .zipWithIndex()
            .map(lambda t: (t[0], t[1]))
        )
        # localCheckpoint (not persist): zipWithIndex is order-dependent, so
        # a recompute after eviction could assign different ids mid-run —
        # sever the lineage so the remap is immutable for the whole loop
        dim = (
            spark.createDataFrame(rdd, "vid long, ivid long")
            .select("vid", F.col("ivid").cast("int").alias("ivid"))
            .localCheckpoint(eager=True)
        )
        e_wide = e
        # re-establish the src partitioning after the remap joins so the
        # downstream dedup/groupBy/join stay exchange-free
        e = (
            e.join(dim.select(F.col("vid").alias("src"), F.col("ivid").alias("isrc")), "src")
            .join(dim.select(F.col("vid").alias("dst"), F.col("ivid").alias("idst")), "dst")
            .select(F.col("isrc").alias("src"), F.col("idst").alias("dst"))
            .repartition(n_shuffle, "src")
            .persist()
        )
        e.count()
        e_wide.unpersist()
        vertices = dim.select(F.col("ivid").alias("vid"))

    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # adjacency annotated with source out-degree once, reused every superstep.
    # Persist it pre-partitioned (inherited from e's one setup exchange — the
    # groupBy and the join add none) AND pre-sorted on the join key: the
    # cached plan keeps its outputPartitioning/outputOrdering, so every
    # superstep's state⋈adj sort-merge join skips both the exchange and the
    # sort on the (large) adjacency side — only the (small) state side
    # shuffles per superstep. Measured 4.5× per-superstep at 5.5M edges/32
    # cores.
    adj_plan = e.join(outdeg, "src")
    adj = None
    if salt_threshold is None:
        adj = adj_plan.sortWithinPartitions("src").persist()
        adj.count()

    # static vertex dimension, pre-partitioned + sorted like adj: in fixed-
    # iteration mode the rank update depends ONLY on the contributions
    # (rank' = α·Σ + base), so the update join runs against this cached
    # table and the per-superstep plan shuffles just (a) the state into
    # join1 and (b) the contributions — the old-state side of the update
    # join costs no exchange and no sort. ε-mode needs the previous rank for
    # the delta, so it joins against the live state and skips this cache.
    vdim = None
    if fixed_iterations is not None:
        vdim = (
            vertices.repartition(n_shuffle, "vid").sortWithinPartitions("vid").persist()
        )
        vdim.count()  # materialize while e (vertices' parent) is still cached
        init_src = vdim
    else:
        init_src = vertices

    # hub pre-pass for explicit salting. Both skew axes are folded into ONE
    # salt-annotated adjacency at setup so the per-superstep plan references
    # the state exactly once (that is what keeps superstep chaining legal —
    # a step whose plan reads state twice doubles per chained step and
    # Catalyst analysis goes exponential):
    #   asalt — dst IN-degree hubs ("stdlib imported by millions"): their
    #     contribution sum goes through a two-stage groupBy(dst, asalt) →
    #     groupBy(dst) aggregation, bounding per-reducer fan-in by num_salts
    #     × mappers regardless of in-degree (north_rule explicit salting).
    #   jsalt — src OUT-degree hubs: partitioned by src alone, a hub's whole
    #     adjacency lands in ONE sort-merge-join task (the measurable
    #     straggler). The hub's (tiny) state row is replicated across all
    #     num_salts via an explode, so the join key (src, jsalt) spreads its
    #     edges over num_salts tasks.
    # Results are identical either way (sums reassociate); composes with AQE
    # skew splitting, which handles moderate skew without being asked.
    adj_s = None
    hot_src_df = None
    has_hot_dst = False
    if salt_threshold is not None:
        import warnings

        from goffish_v3_spark.plans.partitioner import heavy_keys

        warnings.warn(
            "explicit hub salting (salt_threshold=...) measured 0.6-0.9x "
            "of the UNSALTED plan on every fixture tried at local[32] "
            "(BENCH/BASELINE.md 'hub salting' table): map-side partial "
            "aggregation already bounds in-degree-hub fan-in, and AQE "
            "skew-join handles moderate join skew without being asked. "
            "Keep it off unless a profile shows one straggler join task "
            "dominating a superstep wave.",
            stacklevel=2,
        )
        hot_dst_plan = heavy_keys(e, "dst", salt_threshold).withColumnRenamed(
            "dst", "_hd"
        )
        has_hot_dst = hot_dst_plan.limit(1).count() > 0
        hot_src_list = [
            r["src"]
            for r in outdeg.filter(F.col("deg") > salt_threshold)
            .select("src")
            .collect()
        ]
        if len(hot_src_list) > 10_000:
            raise ValueError(
                f"{len(hot_src_list)} out-degree hubs above salt_threshold="
                f"{salt_threshold}; raise the threshold — the hub dimension "
                "is broadcast to every task and must stay small"
            )
        if hot_src_list:
            # tiny driver-built hub dimension (severed from e's lineage —
            # e is unpersisted before the loop) broadcast-joined wherever a
            # hub tag is needed, instead of an isin() literal list embedded
            # chain_every× into every chained plan (ADVICE r3)
            hot_src_df = spark.createDataFrame(
                [(int(v),) for v in hot_src_list], "hsrc long"
            )
            jsalt = (
                F.when(
                    F.col("hsrc").isNotNull(),
                    F.pmod(F.xxhash64("dst"), F.lit(num_salts)),
                )
                .otherwise(F.lit(0))
                .cast("int")
            )
        else:
            jsalt = F.lit(0).cast("int")
        # each salting stage activates ONLY when its skew axis has hubs: an
        # unconditional two-stage (dst, asalt) -> dst aggregation re-shuffles
        # every contribution row a second time per superstep — measured as
        # the entire salted-mode loss on the out-hub fixture (VERDICT r3 #1)
        asalt = (
            F.when(
                F.col("_hd").isNotNull(),
                F.pmod(F.xxhash64("src"), F.lit(num_salts)),
            )
            .otherwise(F.lit(0))
            .cast("int")
            if has_hot_dst
            else F.lit(0).cast("int")
        )
        # built straight from the un-materialized adjacency plan — salted
        # mode persists ONE adjacency (adj_s), not adj + adj_s
        tagged = adj_plan
        if has_hot_dst:
            tagged = tagged.join(
                F.broadcast(hot_dst_plan), tagged.dst == F.col("_hd"), "left"
            )
        if hot_src_df is not None:
            tagged = tagged.join(
                F.broadcast(hot_src_df), tagged.src == F.col("hsrc"), "left"
            )
        adj_s = (
            tagged.select(
                "src", "dst", "deg", jsalt.alias("jsalt"), asalt.alias("asalt")
            )
            .repartition(n_shuffle, "src", "jsalt")
            .sortWithinPartitions("src", "jsalt")
            .persist()
        )
        adj_s.count()

    # sever the (possibly expensive) upstream plan from the iterative loop
    if teleport_vid is None:
        init_rank = F.lit(1.0 / n)
        base = F.lit((1.0 - alpha) / n)
    else:
        init_rank = F.when(
            F.col("vid") == teleport_vid, F.lit(1.0)
        ).otherwise(F.lit(0.0))
        base = F.when(
            F.col("vid") == teleport_vid, F.lit(1.0 - alpha)
        ).otherwise(F.lit(0.0))
    init = init_src.withColumn("rank", init_rank).localCheckpoint(eager=True)
    e.unpersist()

    def step(state: DataFrame, i: int) -> StepResult:
        if adj_s is None:
            contrib = (
                state.join(adj, state.vid == adj.src)
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
        else:
            # one state reference: hub states replicated across jsalt by an
            # explode (hub membership tagged via a broadcast join against
            # the tiny hub dimension, not an isin literal list), then a
            # single (src, jsalt) join against the salted adjacency
            if hot_src_df is not None:
                salt_arr = F.when(
                    F.col("hsrc").isNotNull(),
                    F.sequence(F.lit(0), F.lit(num_salts - 1)),
                ).otherwise(F.array(F.lit(0)))
                state_exp = (
                    state.join(
                        F.broadcast(hot_src_df), state.vid == F.col("hsrc"), "left"
                    )
                    .withColumn("jsalt", F.explode(salt_arr))
                    .drop("hsrc")
                )
            else:
                state_exp = state.withColumn("jsalt", F.lit(0).cast("int"))
            joined = state_exp.join(
                adj_s,
                (state_exp.vid == adj_s.src) & (state_exp.jsalt == adj_s.jsalt),
            ).select("dst", "asalt", (F.col("rank") / F.col("deg")).alias("c"))
            if has_hot_dst:
                # two-stage (dst, asalt) → dst aggregation bounds per-reducer
                # fan-in for in-degree hubs; only worth its extra shuffle
                # when such hubs exist
                contrib = (
                    joined.groupBy("dst", "asalt")
                    .agg(F.sum("c").alias("_p"))
                    .groupBy("dst")
                    .agg(F.sum("_p").alias("s"))
                )
            else:
                contrib = joined.groupBy("dst").agg(F.sum("c").alias("s"))
        if fixed_iterations is not None:
            new_state = vdim.join(contrib, vdim.vid == contrib.dst, "left").select(
                "vid",
                (alpha * F.coalesce(F.col("s"), F.lit(0.0)) + base).alias("rank"),
            )
            done = i + 1 >= fixed_iterations
            # chain supersteps into one job, materializing only at chain
            # boundaries: each superstep references the previous state once
            # (including the salted path — see the setup comment), so the
            # lazy plan grows linearly, and the per-superstep serial cost
            # (driver round-trip + checkpoint pass — measured ~7 s/step at
            # 55M edges regardless of cores) is paid once per chain instead
            # of once per superstep. The row count is observed only to end
            # the chain; there is no convergence gate here.
            if done or (i + 1) % chain_every == 0:
                return StepResult(new_state, done, witness=F.count(F.lit(1)))
            return StepResult(new_state, False)
        new_state = state.join(contrib, state.vid == contrib.dst, "left").select(
            "vid",
            (alpha * F.coalesce(F.col("s"), F.lit(0.0)) + base).alias("rank"),
            F.col("rank").alias("_old"),
        )
        # the ε-gate rides the loop's materialization as the observed witness
        # (reference's all-converged gate, PageRank.java:108-116, evaluated
        # driver-side)
        return StepResult(
            new_state,
            lambda delta: delta <= eps,
            witness=F.max(F.abs(F.col("rank") - F.col("_old"))),
        )

    from goffish_v3_spark.plans.partitioner import vertex_part

    loop = SuperstepLoop(
        spark,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        max_iter=(fixed_iterations if fixed_iterations is not None else max_iter),
        checkpoint_every=checkpoint_every,
        # rank state carries no part column; ownership is computable
        # (plans.partitioner), so per-partition lineage metrics derive it
        partition_expr=(
            vertex_part(F.col("vid"), n_shuffle) if partition_metrics else None
        ),
    )
    info = loop.run(init, step, resume=resume)
    if adj is not None:
        adj.unpersist()
    if adj_s is not None:
        adj_s.unpersist()
    if vdim is not None:
        vdim.unpersist()
    scores = info.state.select("vid", "rank")
    if dim is not None:
        scores = (
            scores.join(dim, scores.vid == dim.ivid)
            .select(dim["vid"].alias("vid"), "rank")
            .localCheckpoint(eager=True)
        )
        # scores is materialized — release dim's checkpoint blocks (O(V))
        # so repeated dense_ids runs don't accumulate executor storage
        dim.unpersist()
    return scores, info


def pagerank(spark: SparkSession, edges: DataFrame, **kw) -> DataFrame:
    """Return ``(vid long, rank double)`` at convergence."""
    scores, _ = pagerank_with_info(spark, edges, **kw)
    return scores
