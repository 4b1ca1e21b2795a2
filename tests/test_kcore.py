"""k-core vs closed forms and the peeling oracle."""

from goffish_v3_spark.operators.kcore import core_numbers, k_core
from tests import graphs
from tests.oracles import kcore_oracle


def test_clique_core(spark):
    df = graphs.to_df(spark, graphs.clique(6))
    got = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    assert got == {v: 5 for v in range(6)}


def test_chain_core_is_one(spark):
    df = graphs.to_df(spark, graphs.chain(15))
    got = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    assert set(got.values()) == {1}


def test_k_core_subgraph(spark):
    # K5 + a pendant vertex: 4-core keeps the clique only
    edges = graphs.clique(5) + [(4, 99)]
    df = graphs.to_df(spark, edges)
    members = {r.vid for r in k_core(spark, df, k=4).collect()}
    assert members == {0, 1, 2, 3, 4}


def test_ba_vs_oracle(spark):
    edges = graphs.barabasi_albert(80, m=2)
    df = graphs.to_df(spark, edges)
    got = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    assert got == kcore_oracle(edges)


def test_core_numbers_consolidation_on_off_match(spark, monkeypatch):
    """Tail consolidation on the cogroup path (blocks fed to the one merged
    task by a one-group cogroup) gives the same core numbers as the purely
    distributed rounds with consolidation disabled by a zero byte budget —
    and the default run really takes the consolidated branch."""
    from goffish_v3_spark.operators import kcore

    calls = []
    real = kcore._make_consolidated_kernel

    def spy(cap):
        calls.append(cap)
        return real(cap)

    monkeypatch.setattr(kcore, "_make_consolidated_kernel", spy)
    edges = graphs.barabasi_albert(250, m=4, seed=13)
    df = graphs.to_df(spark, edges)
    on = {r.vid: r.core for r in core_numbers(spark, df, num_parts=4).collect()}
    assert calls == [None]
    off = {
        r.vid: r.core
        for r in core_numbers(
            spark, df, num_parts=4, consolidate_budget_bytes=0
        ).collect()
    }
    assert calls == [None]
    assert on == off == kcore_oracle(edges)


def test_k_core_changed_only_vs_full_messaging(spark):
    """k_core's changed-only messaging (r4) matches the full re-broadcast
    path on a hub-ish graph."""
    edges = graphs.barabasi_albert(200, m=3, seed=5)
    df = graphs.to_df(spark, edges)
    a = {
        (r.vid, r.deg)
        for r in k_core(
            spark, df, k=3, num_parts=4, changed_only=False,
            chain_every=1,
        ).collect()
    }
    b = {(r.vid, r.deg) for r in k_core(spark, df, k=3, num_parts=4).collect()}
    assert a == b


def test_quiescent_partition_passthrough_skips_block():
    """A partition with no incoming kind-1 messages at superstep ≥ 2 must be
    served by the verbatim passthrough — proven by the cogroup kernel NOT
    decoding its CSR block (the block's binary cells are not whole int64
    arrays, so decoding them would raise)."""
    import numpy as np
    import pandas as pd
    import pytest

    from goffish_v3_spark.operators.kcore import (
        _make_kernel,
        _pack_shadow,
        _unpack_shadow,
    )
    from goffish_v3_spark.plans.csr import CsrBlock

    bad_csr = graphs.undecodable_csr(1)
    with pytest.raises(ValueError):
        CsrBlock(bad_csr.iloc[0])

    kernel = _make_kernel(2, changed_only=True)
    packed = _pack_shadow(
        np.array([20, 21], dtype=np.int64), np.array([1, 4], dtype=np.int64)
    )
    sm = pd.DataFrame(
        {
            "part": np.array([1, 1, 1], dtype=np.int32),
            "kind": np.array([0, 0, 3], dtype=np.int32),  # state + packed shadow
            "vid": np.array([10, 11, -1], dtype=np.int64),
            "a": np.array([2, 3, 2], dtype=np.int64),
            "payload": [None, None, packed],
        }
    )
    out = kernel((1,), bad_csr, sm)
    state = out[out["kind"] == 0].sort_values("vid")
    assert list(state["vid"]) == [10, 11] and list(state["a"]) == [2, 3]
    shadows = out[out["kind"] == 3]
    assert len(shadows) == 1
    svid, sval = _unpack_shadow(
        shadows["payload"].iloc[0], int(shadows["a"].iloc[0])
    )
    assert list(svid) == [20, 21] and list(sval) == [1, 4]
    marker = out[out["kind"] == 2]
    assert len(marker) == 1 and int(marker["a"].iloc[0]) == 0
    assert not (out["kind"] == 1).any()  # quiescent partitions send nothing

    # a kind-1 message wakes the partition: the kernel now decodes its
    # block, which must raise (i.e. passthrough NOT taken)
    awake = pd.concat(
        [sm, pd.DataFrame({"part": np.array([1], dtype=np.int32),
                           "kind": np.array([1], dtype=np.int32),
                           "vid": np.array([20], dtype=np.int64),
                           "a": np.array([1], dtype=np.int64)})],
        ignore_index=True,
    )
    with pytest.raises(ValueError):
        kernel((1,), bad_csr, awake)

    # superstep 1 must never take the passthrough even without messages
    # (a no-remote-edge partition still owes its first local pass)
    with pytest.raises(ValueError):
        _make_kernel(1, changed_only=True)((1,), bad_csr, sm)


def test_tail_consolidation_matches_distributed(spark):
    """Tail consolidation (merged-block global fixpoint, VERDICT r4 #2) must
    reproduce the distributed rounds exactly on both the full decomposition
    and the capped k-core, and a zero byte budget must disable it without
    changing answers."""
    edges = graphs.barabasi_albert(250, m=3, seed=5)
    df = graphs.to_df(spark, edges)
    oracle = kcore_oracle(edges)

    consolidated = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    distributed = {
        r.vid: r.core
        for r in core_numbers(spark, df, consolidate_after=10**9).collect()
    }
    budget_zero = {
        r.vid: r.core
        for r in core_numbers(spark, df, consolidate_budget_bytes=0).collect()
    }
    assert consolidated == distributed == budget_zero == oracle

    kc = {r.vid: r.deg for r in k_core(spark, df, k=3).collect()}
    kd = {
        r.vid: r.deg
        for r in k_core(spark, df, k=3, consolidate_after=10**9).collect()
    }
    assert kc == kd


def test_frontier_fixpoint_matches_plain():
    """The frontier-filtered h-index fixpoint equals the plain Jacobi
    fixpoint (both are chaotic iterations of the same monotone operator)."""
    import numpy as np

    from goffish_v3_spark.operators.kcore import (
        _hindex_fixpoint_frontier,
        _local_hindex_fixpoint,
    )
    from tests.oracles import kcore_oracle as _oracle

    edges = graphs.barabasi_albert(120, m=3, seed=9)
    sym = sorted(set(edges) | {(v, u) for u, v in edges})
    src = np.array([u for u, _ in sym], dtype=np.int64)
    dst = np.array([v for _, v in sym], dtype=np.int64)
    vids = np.unique(src)
    n = len(vids)
    deg = np.bincount(np.searchsorted(vids, src), minlength=n)
    indptr = np.concatenate(([0], np.cumsum(deg)))
    dst_idx = np.searchsorted(vids, dst)

    est = _hindex_fixpoint_frontier(indptr, dst_idx, deg.astype(np.int64).copy())
    want = _oracle(edges)
    assert {int(vids[i]): int(est[i]) for i in range(n)} == want
