"""Deterministic random walks: the graph-embedding corpus generator.

DeepWalk/node2vec-style pipelines pretrain embeddings on walk corpora;
at link-graph scale the walk generator IS the data pipeline — billions
of walks, each a few hops. This one derives every neighbor choice from
a hash of ``(current vertex, step, walk id)`` instead of an RNG, which
buys three things a 100 TB pipeline needs: reproducibility (reruns and
retries emit byte-identical corpora), shardability (no RNG state to
coordinate across executors), and auditability (the whole walk replays
in ANSI SQL — see :func:`random_walks_sql`).

Scale shape: the adjacency is indexed ONCE — ``row_number`` per source
over a single hash shuffle — then each of the ``length`` steps is ONE
join of the walk frontier against it on the current vertex, filtered to
the chosen index. The join emits |frontier| × out-degree rows before the
filter keeps one per walker; an equi-join on ``(vertex, chosen index)``
would emit |frontier| rows, but it needs each walker to carry its
out-degree (one more join) and measured slower at the sizes tried
(200 k and 2 M Zipf edges, where the whole adjacency is broadcast per
hop anyway). Dead ends (out-degree 0) stay put — the walk is always
defined, every start emits exactly ``length+1`` rows.

Reference parity: the reference has no walk surface; this is part of
the training-data-pipeline layer beyond reference coverage
(SURVEY.md §2.D), built on the sampling mixer's published constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import MOD, _A1, _A2, _C1, _C2

_MAX_LEN = 16  # the oracle unrolls one CTE per step; keep the plan bounded
_K_STEP = 2_654_435_761  # Knuth multiplicative constants fold step/walk ids
_K_WALK = 1_315_423_911  # into the mixed key; products stay < 2^63


def _check_walk_params(length: int, num_walks: int) -> None:
    if not 1 <= length <= _MAX_LEN:
        raise ValueError(f"length must be in [1, {_MAX_LEN}], got {length}")
    if not 1 <= num_walks <= 1_000:
        raise ValueError(f"num_walks must be in [1, 1000], got {num_walks}")


def _choice_key(cur, step: int, walk) -> "F.Column":
    """The combined integer the mixer hashes to pick a neighbor index —
    folded mod MOD first so every product stays far below 2^63."""
    return F.pmod(
        F.pmod(cur, F.lit(MOD)) * 31
        + F.lit(step * _K_STEP % MOD)
        + walk * F.lit(_K_WALK % MOD),
        F.lit(MOD),
    )


def _mix(k) -> "F.Column":
    """sampling.hash_bucket over an already-folded column (two LCG rounds
    mod 1e9+7 — the affine mixer is fine for modulo choice)."""
    h1 = F.pmod(k * F.lit(_A1) + F.lit(_C1), F.lit(MOD))
    return F.pmod(h1 * F.lit(_A2) + F.lit(_C2), F.lit(MOD))


def _check_integer_ids(edges: DataFrame) -> None:
    """The walk hash mixes ids arithmetically, so ids must be integral —
    a silent cast("long") would turn string keys into NULLs. Raise loudly
    instead (map string keys to dense ids first, e.g. via xxhash64)."""
    for c in ("src", "dst"):
        t = edges.schema[c].dataType.typeName()
        if t not in ("long", "integer", "short", "byte"):
            raise TypeError(
                f"random_walks needs integral vertex ids; column {c!r} is "
                f"{t} — map keys to ids first"
            )


def indexed_adjacency(edges: DataFrame) -> DataFrame:
    """``(src, deg, idx, dst)`` — distinct out-edges, numbered 0..deg-1 per
    source in dst order. One shuffle; persist this hash-partitioned on
    ``src`` when running many walk batches."""
    _check_integer_ids(edges)
    adj = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct()
    w = Window.partitionBy("src").orderBy("dst")
    return adj.select(
        "src",
        F.count("*").over(Window.partitionBy("src")).alias("deg"),
        (F.row_number().over(w) - 1).alias("idx"),
        "dst",
    )


def random_walks(
    edges: DataFrame,
    length: int = 4,
    num_walks: int = 1,
    materialize: bool = False,
) -> DataFrame:
    """``(start_vid, walk, step, vid)`` — ``num_walks`` deterministic walks
    of ``length`` steps from EVERY vertex of ``edges(src, dst)``; step 0 is
    the start itself. Neighbor choice at each hop is
    ``mix(cur, step, walk) % out_degree(cur)`` over the dst-ordered
    adjacency index; a vertex with no out-edges repeats (the walk never
    shortens). All-integer — the output is hash-exact across engines.

    ``materialize=True`` localCheckpoints the indexed adjacency and each
    step's frontier (eager, executor-storage, GC-cleaned): without it the
    union of per-step outputs re-derives step i's whole i-join chain per
    branch — O(length²) joins; with it each hop runs once — O(length).
    The lazy default keeps the single declarative plan (plan audit,
    exchange reuse at small length); flip it on for long walks or big
    graphs — results are identical either way (tested)."""
    _check_walk_params(length, num_walks)
    adj = indexed_adjacency(edges)
    if materialize:
        adj = adj.localCheckpoint(eager=True)
    verts = (
        edges.select(F.col("src").cast("long").alias("vid"))
        .unionByName(edges.select(F.col("dst").cast("long").alias("vid")))
        .distinct()
    )
    walks = F.explode(
        F.array(*[F.lit(wk) for wk in range(num_walks)])
    ).alias("walk")
    state = verts.select(
        F.col("vid").alias("start_vid"), walks, F.col("vid").alias("cur")
    )
    out = state.select(
        "start_vid", "walk", F.lit(0).alias("step"), F.col("cur").alias("vid")
    )
    for step in range(1, length + 1):
        key = _choice_key(F.col("cur"), step, F.col("walk"))
        st = state.withColumn("h", _mix(key))
        nxt = (
            st.join(adj, st.cur == adj.src, "left")
            .filter(
                F.col("src").isNull()
                | (F.col("idx") == F.pmod(F.col("h"), F.col("deg")))
            )
            .select(
                "start_vid",
                "walk",
                F.coalesce(F.col("dst"), F.col("cur")).alias("cur"),
            )
        )
        state = nxt.localCheckpoint(eager=True) if materialize else nxt
        out = out.unionByName(
            state.select(
                "start_vid",
                "walk",
                F.lit(step).alias("step"),
                F.col("cur").alias("vid"),
            )
        )
    return out


def _choice_key_sql(cur: str, step: int, walk: str) -> str:
    folded = f"((({cur}) % {MOD} + {MOD}) % {MOD})"
    return (
        f"(({folded} * 31 + {step * _K_STEP % MOD} "
        f"+ ({walk}) * {_K_WALK % MOD}) % {MOD})"
    )


def _mix_sql(k: str) -> str:
    return f"((({k} * {_A1} + {_C1}) % {MOD}) * {_A2} + {_C2}) % {MOD}"


def random_walks_sql(
    edges_sql: str, length: int = 4, num_walks: int = 1
) -> str:
    """ANSI-SQL twin of :func:`random_walks` — the same indexed adjacency
    (ROW_NUMBER over dst order), the same mixer constants, one unrolled
    CTE per step. ``edges_sql`` must yield columns ``src, dst``."""
    _check_walk_params(length, num_walks)
    wks = ", ".join(str(wk) for wk in range(num_walks))
    ctes = [
        f"edges AS (SELECT DISTINCT CAST(src AS BIGINT) AS src, "
        f"CAST(dst AS BIGINT) AS dst FROM ({edges_sql}))",
        "adj AS (SELECT src, count(*) OVER (PARTITION BY src) AS deg, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, dst "
        "FROM edges)",
        "verts AS (SELECT DISTINCT vid FROM ("
        "SELECT src AS vid FROM edges UNION ALL SELECT dst AS vid FROM edges))",
        f"w0 AS (SELECT vid AS start_vid, UNNEST([{wks}]) AS walk, "
        "vid AS cur FROM verts)",
    ]
    for step in range(1, length + 1):
        key = _choice_key_sql("s.cur", step, "s.walk")
        ctes.append(
            f"w{step} AS (SELECT s.start_vid, s.walk, "
            "COALESCE(a.dst, s.cur) AS cur "
            f"FROM w{step - 1} s LEFT JOIN adj a ON a.src = s.cur "
            f"AND a.idx = ({_mix_sql(key)}) % a.deg)"
        )
    unions = " UNION ALL ".join(
        f"SELECT start_vid, walk, {i} AS step, cur AS vid FROM w{i}"
        for i in range(length + 1)
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT CAST(start_vid AS BIGINT) AS start_vid, CAST(walk AS BIGINT) AS walk,
       CAST(step AS BIGINT) AS step, CAST(vid AS BIGINT) AS vid
FROM ({unions})
"""
