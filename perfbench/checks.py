"""Independent output checks for the benchmark's operator calls.

Each check recomputes the expected answer with numpy, pandas, networkx or
plain Python from the call's *input*, never with the operator under test,
and returns ``None`` when the output agrees or a one-line reason when it
does not.
"""

from __future__ import annotations

import re

import networkx as nx
import numpy as np
import pandas as pd

ALPHA = 0.85

_IMPORTS = {
    "python": (re.compile(r"from pkg_\d+\.mod_(\d+) import"), "py"),
    "java": (re.compile(r"import org\.pkg_\d+\.mod_(\d+);"), "java"),
    "c": (re.compile(r"#include \"pkg_\d+/mod_(\d+)\.h\""), "h"),
}
_DEP = re.compile(r"#dep (\S+) (\S+)")


def ingest_edge_count(repos: pd.DataFrame) -> int:
    """Distinct resolved file→file references in a ``repos`` table.

    Follows the edge contract of FIXTURES.md §1: language import lines name a
    same-repo module ``src/pkg_<i % 4>/mod_<i>.<ext>``, ``#dep <repo> <path>``
    lines name a file anywhere; references to files not in the table and
    self-references are dropped."""
    files = set(zip(repos["repo"], repos["path"]))
    edges = set()
    for repo, path, lang, content in zip(repos["repo"], repos["path"], repos["lang"], repos["content"]):
        pat, ext = _IMPORTS.get(lang, _IMPORTS["c"])
        targets = [(repo, f"src/pkg_{int(t) % 4}/mod_{int(t)}.{ext}") for t in pat.findall(content)]
        targets += _DEP.findall(content)
        src = (repo, path)
        edges.update((src, dst) for dst in targets if dst in files and dst != src)
    return len(edges)


def pagerank_reference(src, dst, eps=1e-3, max_iter=100, fixed_iterations=None):
    """``(vids, ranks, supersteps)`` of PageRank by numpy power iteration.

    The update the engine documents: rank' = α·Σ_in rank_u/outdeg_u + (1−α)/N
    over the de-duplicated edge set, N = |src ∪ dst|, no dangling
    redistribution; stop after ``fixed_iterations`` updates or once every
    |Δ| ≤ ``eps``."""
    pairs = np.unique(np.stack([np.asarray(src), np.asarray(dst)], axis=1), axis=0)
    vids, inv = np.unique(pairs.ravel(), return_inverse=True)
    s, d = inv.reshape(-1, 2).T
    n = len(vids)
    share = 1.0 / np.bincount(s, minlength=n)[s]
    rank = np.full(n, 1.0 / n)
    limit = fixed_iterations or max_iter
    for step in range(1, limit + 1):
        new = ALPHA * np.bincount(d, weights=rank[s] * share, minlength=n) + (1.0 - ALPHA) / n
        delta = np.abs(new - rank).max()
        rank = new
        if fixed_iterations is None and delta <= eps:
            break
    return vids, rank, step


def check_pagerank(edges: pd.DataFrame, out: pd.DataFrame, supersteps=None, **kw):
    vids, rank, steps = pagerank_reference(edges["src"], edges["dst"], **kw)
    out = out.sort_values("vid")
    if not np.array_equal(out["vid"].to_numpy(), vids):
        return f"vertex set differs: {len(out)} ranked vs {len(vids)} expected"
    if not np.allclose(out["rank"].to_numpy(), rank, rtol=1e-6, atol=1e-12):
        err = np.abs(out["rank"].to_numpy() - rank).max()
        return f"ranks differ from numpy power iteration (max abs err {err:.3g})"
    if supersteps is not None and supersteps != steps:
        return f"{supersteps} supersteps to the eps-gate, numpy needs {steps}"
    return None


def undirected_graph(edges: pd.DataFrame) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return g


def check_core_numbers(g: nx.Graph, out: pd.DataFrame):
    want = nx.core_number(g)
    got = dict(zip(out["vid"].tolist(), out["core"].tolist()))
    if got.keys() != want.keys():
        return f"vertex set differs: {len(got)} vs {len(want)} expected"
    bad = sum(got[v] != k for v, k in want.items())
    return f"{bad} core numbers differ from networkx" if bad else None


def check_labels_within_components(g: nx.Graph, out: pd.DataFrame):
    """Every vertex is labelled, and with a vertex of its own component."""
    comp = {}
    for i, members in enumerate(nx.connected_components(g)):
        comp.update(dict.fromkeys(members, i))
    labels = dict(zip(out["vid"].tolist(), out["label"].tolist()))
    if labels.keys() != comp.keys():
        return f"vertex set differs: {len(labels)} labelled vs {len(comp)} vertices"
    bad = sum(comp.get(lab, -1) != comp[v] for v, lab in labels.items())
    return f"{bad} labels are not a vertex of the same component" if bad else None


def triangle_reference(edges: pd.DataFrame) -> int:
    """Triangles of the undirected simple graph: orient every edge from the
    lower (degree, id) end, join wedges and close them, so a hub's wedges
    never blow up."""
    src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
    keep = src != dst
    und = pd.DataFrame(
        {"u": np.minimum(src, dst)[keep], "v": np.maximum(src, dst)[keep]}
    ).drop_duplicates()
    deg = pd.concat([und["u"], und["v"]]).value_counts()
    u, v = und["u"].to_numpy(), und["v"].to_numpy()
    du, dv = deg.reindex(u).to_numpy(), deg.reindex(v).to_numpy()
    forward = (du < dv) | ((du == dv) & (u < v))
    o = pd.DataFrame({"a": np.where(forward, u, v), "b": np.where(forward, v, u)})
    wedges = o.merge(o.rename(columns={"a": "b", "b": "c"}), on="b")
    return len(wedges.merge(o.rename(columns={"b": "c"}), on=["a", "c"]))


def check_triangle_count(edges: pd.DataFrame, got: int):
    want = triangle_reference(edges)
    return None if got == want else f"{got} triangles, pandas counts {want}"


def walk_reference(src, dst, length: int) -> tuple[np.ndarray, np.ndarray]:
    """``(starts, path)`` of one walk per vertex, ``path[:, i]`` the vertex
    after ``i`` hops, replayed in numpy from the documented walk rule: at
    step ``i`` a walker on ``cur`` moves to its ``mix(key(cur, i, 0)) %
    outdeg``-th distinct out-neighbour in id order, or stays on a vertex
    without out-edges. The hash constants are the published ones of
    ``operators.sampling`` / ``operators.walks``."""
    from goffish_v3_spark.operators.sampling import MOD, _A1, _A2, _C1, _C2
    from goffish_v3_spark.operators.walks import _K_STEP

    src, dst = np.asarray(src, dtype=np.int64), np.asarray(dst, dtype=np.int64)
    s, d = np.unique(np.stack([src, dst], axis=1), axis=0).T
    owners, first, deg = np.unique(s, return_index=True, return_counts=True)
    starts = np.unique(np.concatenate([src, dst]))
    cur, path = starts.copy(), [starts]
    for step in range(1, length + 1):
        key = ((cur % MOD) * 31 + step * _K_STEP % MOD) % MOD
        h = (((key * _A1 + _C1) % MOD) * _A2 + _C2) % MOD
        pos = np.minimum(np.searchsorted(owners, cur), len(owners) - 1)
        has = owners[pos] == cur
        cur = cur.copy()
        cur[has] = d[first[pos[has]] + h[has] % deg[pos[has]]]
        path.append(cur)
    return starts, np.stack(path, axis=1)


def check_walks(edges: pd.DataFrame, out: pd.DataFrame, length: int):
    starts, path = walk_reference(edges["src"], edges["dst"], length)
    out = out.sort_values(["start_vid", "step"])
    if len(out) != path.size or (out["walk"] != 0).any():
        return f"{len(out)} walk rows, expected {path.size} (one walk per vertex)"
    got = out["vid"].to_numpy().reshape(-1, length + 1)
    if not np.array_equal(out["start_vid"].to_numpy()[:: length + 1], starts):
        return "walk start vertices differ from the vertex set"
    bad = int((got != path).any(axis=1).sum())
    return f"{bad} walks differ from the numpy replay" if bad else None
