"""Deterministic fixture graphs (FIXTURES.md §3)."""

from __future__ import annotations

import random


def chain(n: int) -> list[tuple[int, int]]:
    return [(i, i + 1) for i in range(n - 1)]


def clique(k: int, offset: int = 0) -> list[tuple[int, int]]:
    return [
        (offset + i, offset + j) for i in range(k) for j in range(k) if i < j
    ]


def disjoint_cliques(n: int, k: int) -> list[tuple[int, int]]:
    out = []
    for c in range(n):
        out += clique(k, offset=c * 100)
    return out


def star_hub(n_leaves: int, hub: int = 0) -> list[tuple[int, int]]:
    return [(i, hub) for i in range(1, n_leaves + 1)]


def two_islands_bridge(size: int = 20, p: float = 0.3, seed: int = 42):
    rng = random.Random(seed)
    edges = []
    for base in (0, 1000):
        for i in range(size):
            for j in range(i + 1, size):
                if rng.random() < p:
                    edges.append((base + i, base + j))
        # ensure connectivity inside each island
        for i in range(size - 1):
            edges.append((base + i, base + i + 1))
    edges.append((size - 1, 1000))  # the bridge
    return sorted(set(edges))


def barabasi_albert(n: int, m: int = 3, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded preferential attachment — power-law degree fixture."""
    rng = random.Random(seed)
    targets = list(range(m))
    repeated: list[int] = list(range(m))
    edges = []
    for v in range(m, n):
        chosen = set()
        while len(chosen) < m:
            chosen.add(rng.choice(repeated) if repeated else rng.randrange(v))
        for t in chosen:
            edges.append((v, t))
        repeated.extend(chosen)
        repeated.extend([v] * m)
    return edges


def to_df(spark, edges, weighted=False):
    if weighted:
        rows = [(int(u), int(v), float(w)) for u, v, w in edges]
    else:
        rows = [(int(u), int(v), 1.0) for u, v in edges]
    return spark.createDataFrame(rows, "src long, dst long, w double")


def undecodable_csr(part: int):
    """A one-row CSR block frame whose binary cells are not whole numpy
    arrays: a kernel that decodes it (``CsrBlock``) raises ``ValueError``,
    so a kernel that returns without raising provably never touched it."""
    import pandas as pd

    cols = ("local_vids", "indptr", "edge_dst_vid", "edge_dst_part",
            "edge_dst_local", "edge_w")
    return pd.DataFrame(
        {"part": [part], "n_local": [1], "n_edges": [1], **{c: [b"abc"] for c in cols}}
    )
