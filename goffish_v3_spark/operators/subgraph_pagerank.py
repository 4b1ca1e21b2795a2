"""Subgraph-centric PageRank over partition-local CSR blocks.

This is the faithful structural analogue of the reference's PageRank
(sample-hama PageRank.java:19-149) — same numbers as operators.pagerank, same
convergence gate, but executed the way GoFFish executes it:

- every partition holds its vertices' ranks + a **pending local sum**
  (the reference's ``localSums`` map, PageRank.java:28) updated *without any
  shuffle* for edges whose dst is co-located (PageRank.java:120-134);
- only cross-partition contributions become messages, pre-aggregated per
  (dst_part, dst) before the shuffle — exactly the reference's per-target
  bundling of ``remoteSums`` (PageRank.java:136-146);
- each superstep is ONE cogrouped ``applyInPandas`` over (csr ⋅ state+msgs)
  grouped by partition — the vectorized counterpart of "deliver messages,
  then run compute() per subgraph" (GraphJobRunner.java:269-331);
- the ε-convergence gate is the reference's all-deltas ≤ ε (PageRank.java:
  108-116), collected driver-side from per-partition delta rows.

At scale this shuffles only boundary contributions (O(cut size)) per
superstep instead of O(|E|) — the reason the subgraph-centric model beats
vertex-centric engines (README.md:3), reproduced here with Arrow batches
instead of Writable messages.

Output row protocol from the kernel (single DataFrame, demuxed by ``kind``
like the reference's MessageType demux, GraphJobRunner.java:440-493):
kind 0 = state (vid, a=rank, b=pending_local_sum), routed to own part;
kind 1 = message (vid=dst, a=contribution), routed to dst part;
kind 2 = per-partition metric (a=max delta).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.csr import CsrBlock, build_csr_blocks
from goffish_v3_spark.plans.superstep import StepResult, SuperstepLoop

OUT_SCHEMA = "part int, kind int, vid long, a double, b double"

ALPHA = 0.85
EPSILON = 1e-3


def _local_pagerank(blk: CsrBlock, alpha: float, eps: float, max_sweeps: int = 200):
    """The SubgraphRank warm start (SubgraphRank.java:117-143 ``LPRCompute``):
    PageRank over the partition-local edge set alone, iterated to the local
    ε before the first global superstep. Returns ranks summing to ~1 over
    the local block (caller scales by n_local/N, :54-61)."""
    n = blk.n_local
    if n == 0:
        return np.empty(0, dtype=np.float64)
    l_mask = blk.edge_dst_local >= 0
    seg = np.repeat(np.arange(n, dtype=np.int64), blk.out_degrees)
    l_seg = seg[l_mask]
    l_dst = blk.edge_dst_local[l_mask]
    l_outdeg = np.bincount(l_seg, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    base_l = (1.0 - alpha) / n
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_deg = np.where(l_outdeg > 0, 1.0 / np.maximum(l_outdeg, 1.0), 0.0)
    for _ in range(max_sweeps):
        contrib = np.zeros(n, dtype=np.float64)
        per_src = r * inv_deg
        np.add.at(contrib, l_dst, per_src[l_seg])
        r_new = alpha * contrib + base_l
        if np.max(np.abs(r_new - r)) <= eps:
            return r_new
        r = r_new
    return r


_PR_EMPTY = {"part": "int32", "kind": "int32", "vid": "int64", "a": "f8", "b": "f8"}


def _make_kernel(
    superstep: int,
    alpha: float,
    base: float,
    local_init: bool = False,
    local_eps: float = 0.05,
    n_total: int | None = None,
):
    def kernel(keys, csr_pdf: pd.DataFrame, sm_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(csr_pdf) == 0:
            return pd.DataFrame(
                {"part": [], "kind": [], "vid": [], "a": [], "b": []}
            ).astype(_PR_EMPTY)
        blk = CsrBlock(csr_pdf.iloc[0])
        n_local = blk.n_local

        state_rows = sm_pdf[sm_pdf["kind"] == 0]
        msg_rows = sm_pdf[sm_pdf["kind"] == 1]

        # align state to the block's sorted vid order
        idx = blk.align(state_rows["vid"].to_numpy(dtype=np.int64))
        ranks = np.empty(n_local, dtype=np.float64)
        pending = np.zeros(n_local, dtype=np.float64)
        ranks[idx] = state_rows["a"].to_numpy(dtype=np.float64)
        pending[idx] = state_rows["b"].to_numpy(dtype=np.float64)

        # deliver messages: remote contribution sums per local vid
        if len(msg_rows):
            midx = blk.align(msg_rows["vid"].to_numpy(dtype=np.int64))
            np.add.at(pending, midx, msg_rows["a"].to_numpy(dtype=np.float64))

        # rank update (skipped on superstep 0: ranks are the 1/N init and the
        # first pass only seeds contributions — PageRank.java:41-75)
        if superstep == 0:
            if local_init:
                # SubgraphRank: local PR to ε inside the block, scaled by
                # |block|/|G| (SubgraphRank.java:54-61,117-143)
                new_ranks = _local_pagerank(blk, alpha, local_eps) * (
                    n_local / n_total
                )
            else:
                new_ranks = ranks
            delta = np.inf
        else:
            new_ranks = alpha * pending + base
            delta = float(np.max(np.abs(new_ranks - ranks))) if n_local else 0.0

        # contribution pass over the block's out-edges (PageRank.java:120-141)
        outdeg = blk.out_degrees
        new_pending = np.zeros(n_local, dtype=np.float64)
        out_msgs_part = np.empty(0, dtype=np.int32)
        out_msgs_vid = np.empty(0, dtype=np.int64)
        out_msgs_val = np.empty(0, dtype=np.float64)
        if blk.edge_dst_vid.size:
            with np.errstate(divide="ignore", invalid="ignore"):
                per_src = np.where(outdeg > 0, new_ranks / np.maximum(outdeg, 1), 0.0)
            contrib = np.repeat(per_src, outdeg)
            local_mask = blk.edge_dst_local >= 0
            np.add.at(new_pending, blk.edge_dst_local[local_mask], contrib[local_mask])
            # pre-aggregate remote contributions per (dst_part, dst) before
            # the shuffle — the reference's remoteSums bundling
            r_vid = blk.edge_dst_vid[~local_mask]
            r_part = blk.edge_dst_part[~local_mask]
            r_val = contrib[~local_mask]
            if r_vid.size:
                order = np.lexsort((r_vid, r_part))
                vid_s, part_s, val_s = r_vid[order], r_part[order], r_val[order]
                boundaries = np.concatenate(
                    ([True], (vid_s[1:] != vid_s[:-1]) | (part_s[1:] != part_s[:-1]))
                )
                grp = np.cumsum(boundaries) - 1
                sums = np.zeros(grp[-1] + 1, dtype=np.float64)
                np.add.at(sums, grp, val_s)
                first = np.nonzero(boundaries)[0]
                out_msgs_vid = vid_s[first]
                out_msgs_part = part_s[first]
                out_msgs_val = sums

        n_msg = len(out_msgs_vid)
        return pd.DataFrame(
            {
                "part": np.concatenate(
                    [np.full(n_local, blk.part, dtype=np.int32), out_msgs_part,
                     np.array([blk.part], dtype=np.int32)]
                ),
                "kind": np.concatenate(
                    [np.zeros(n_local, dtype=np.int32), np.ones(n_msg, dtype=np.int32),
                     np.array([2], dtype=np.int32)]
                ),
                "vid": np.concatenate(
                    [blk.local_vids, out_msgs_vid, np.array([-1], dtype=np.int64)]
                ),
                "a": np.concatenate(
                    [new_ranks, out_msgs_val, np.array([delta], dtype=np.float64)]
                ),
                "b": np.concatenate(
                    [new_pending, np.zeros(n_msg), np.array([0.0])]
                ),
            }
        )

    return kernel


def csr_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int | None = None,
    alpha: float = ALPHA,
    eps: float = EPSILON,
    max_iter: int = 100,
    blocks: DataFrame | None = None,
    fixed_iterations: int | None = None,
    local_init: bool = False,
    local_eps: float = 0.05,
) -> DataFrame:
    """PageRank over CSR blocks; returns ``(vid long, rank double)`` equal to
    operators.pagerank within float tolerance (same update order).

    ``fixed_iterations`` runs exactly that many global rank updates (the
    SQL-oracle comparison mode). ``local_init`` enables the SubgraphRank
    warm start: PageRank over each partition's local edges to ``local_eps``
    convergence before the first global superstep (SubgraphRank.java:117-143)
    — the superstep-saving inner loop; the global phase still converges to
    the plain PageRank fixpoint. Every superstep cogroups the persisted CSR
    blocks with the state and message rows by partition."""
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    own_blocks = blocks is None
    if own_blocks:
        blocks = build_csr_blocks(spark, edges, num_parts)

    # N = all vertices (reference SS0 vertex-count broadcast → driver agg)
    n = int(
        blocks.select(F.sum("n_local").alias("n")).collect()[0]["n"]
    )
    base = (1.0 - alpha) / n

    # init state rows straight out of the blocks (vid, rank=1/N, pending=0)
    init_rank = 1.0 / n

    def init_rows(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                vids = np.frombuffer(r["local_vids"], dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "part": np.full(len(vids), r["part"], dtype=np.int32),
                        "kind": np.zeros(len(vids), dtype=np.int32),
                        "vid": vids,
                        "a": np.full(len(vids), init_rank),
                        "b": np.zeros(len(vids)),
                    }
                )

    init = blocks.mapInPandas(init_rows, schema=OUT_SCHEMA).localCheckpoint(eager=True)
    if fixed_iterations is None:
        total, converged = max_iter, (lambda delta: delta is not None and delta <= eps)
    else:
        total, converged = fixed_iterations + 1, False

    def step(carry: DataFrame, i: int) -> StepResult:
        # inbound contributions pre-summed to one row per (part, vid)
        msgs = (
            carry.filter(F.col("kind") == 1)
            .groupBy("part", "kind", "vid")
            .agg(F.sum("a").alias("a"), F.lit(0.0).alias("b"))
            .select("part", "kind", "vid", "a", "b")
        )
        kernel = _make_kernel(
            i, alpha, base, local_init=local_init, local_eps=local_eps, n_total=n,
        )
        out = (
            blocks.groupby("part")
            .cogroup(carry.filter(F.col("kind") == 0).unionByName(msgs).groupby("part"))
            .applyInPandas(kernel, schema=OUT_SCHEMA)
        )
        # the ε-gate's max-delta is the observed witness: ONE Spark job per
        # superstep, not a second collect() job over the kind=2 rows
        return StepResult(
            out, converged, witness=F.max(F.when(F.col("kind") == 2, F.col("a")))
        )

    info = SuperstepLoop(spark, max_iter=total).run(init, step)
    result = (
        info.state.filter(F.col("kind") == 0)
        .select("vid", F.col("a").alias("rank"))
        .localCheckpoint(eager=True)
    )
    result.pr_supersteps = info.supersteps  # introspection for tests/bench
    if own_blocks:
        blocks.unpersist()
    return result


def subgraph_rank(spark: SparkSession, edges: DataFrame, **kw) -> DataFrame:
    """SubgraphRank (sample-hama SubgraphRank.java:16-192): block PageRank
    with the local-convergence warm start; converges to the same scores as
    plain PageRank in fewer global supersteps."""
    return csr_pagerank(spark, edges, local_init=True, **kw)

