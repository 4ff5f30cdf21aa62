"""Graph sampling — deterministic pseudo-random walks (the
neighborhood-sampling primitive GNN training pipelines run at corpus
scale; §2.10 extension).

A walk of length L starts at every vertex; at step s from vertex c the
next hop is the neighbor n minimizing the arithmetic hash

    h(c, s, n) = ((c·2654435761 + s·40503 + n·2246822519) mod 2^32)
                 · 2^22 + n

— pure int64 arithmetic (no RNG, no engine hash builtin), total-ordered
by the ``+ n`` low bits, so every engine picks the identical hop and
the unrolled DuckDB oracle replays the walk exactly. Different steps /
different walkers decorrelate through the multipliers, giving
pseudo-random exploration with replay determinism — the property a
resumable 100 TB sampling job needs.

Scale: step = one join of the walker frontier against the (cached,
src-partitioned) adjacency + one min-aggregation — L shuffles of a
|V|-row frontier total, never materializing multi-hop neighborhoods.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.iterate import iterate
from ..plans.checkpoints import scratch_scope

W_MULT_C = 2654435761
W_MULT_S = 40503
W_MULT_N = 2246822519
W_MOD = 4294967296
W_SHIFT = 4194304  # 2^22 — ids must be < this


def _hop_hash(cur: str, step: int, nbr: str) -> F.Column:
    h = (
        F.col(cur) * W_MULT_C + F.lit(step) * W_MULT_S + F.col(nbr) * W_MULT_N
    ) % W_MOD
    return h * W_SHIFT + F.col(nbr)


@scratch_scope
def random_walks(graph: Graph, length: int = 3) -> DataFrame:
    """(start_id, v1, .., vL) — one deterministic walk per start vertex
    (NULL-padded at dead ends)."""
    adj = graph.simple_undirected_edges().localCheckpoint(eager=True)

    def step(walks: DataFrame, s: int) -> DataFrame:
        hop = (
            walks.join(
                adj.select(F.col("src").alias("__cur"), F.col("dst").alias("__n")),
                "__cur",
            )
            .groupBy("start_id")
            .agg(F.min(_hop_hash("__cur", s, "__n")).alias("__h"))
            .select("start_id", (F.col("__h") % W_SHIFT).alias(f"v{s}"))
        )
        return walks.join(hop, "start_id", "left").select(
            "start_id",
            *[f"v{i}" for i in range(1, s)],
            F.col(f"v{s}"),
            F.col(f"v{s}").alias("__cur"),
        )

    walks = graph.vertices.select(
        F.col("id").alias("start_id"), F.col("id").alias("__cur")
    )
    walks, _, _ = iterate(walks, step, length)
    return walks.drop("__cur").orderBy("start_id")


def oracle_ctes(
    edges_cte: str, vertices_cte: str, length: int = 3
) -> tuple[str, str]:
    """(CTE text, final SELECT) — unrolled walk steps."""

    def hh(cur: str, step: int, nbr: str) -> str:
        return (
            f"(({cur} * {W_MULT_C} + {step} * {W_MULT_S} + {nbr} * {W_MULT_N})"
            f" % {W_MOD}) * {W_SHIFT} + {nbr}"
        )

    ctes = [
        f"""rw_adj AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst FROM {edges_cte} WHERE src <> dst
    UNION
    SELECT dst AS src, src AS dst FROM {edges_cte} WHERE src <> dst
  )
)""",
        f"rw0 AS MATERIALIZED (SELECT id AS start_id, id AS cur"
        f" FROM {vertices_cte})",
    ]
    for s in range(1, length + 1):
        p = s - 1
        ctes.append(
            f"""rw{s}h AS MATERIALIZED (
  SELECT w.start_id, MIN({hh("w.cur", s, "a.dst")}) AS h
  FROM rw{p} w JOIN rw_adj a ON w.cur = a.src
  GROUP BY 1
)"""
        )
        ctes.append(
            f"""rw{s} AS MATERIALIZED (
  SELECT w.start_id, h.h % {W_SHIFT} AS cur
  FROM rw{p} w LEFT JOIN rw{s}h h ON w.start_id = h.start_id
)"""
        )
    cols = ", ".join(
        f"rw{s}.cur AS v{s}" for s in range(1, length + 1)
    )
    joins = "\n".join(
        f"LEFT JOIN rw{s} ON rw0.start_id = rw{s}.start_id"
        for s in range(1, length + 1)
    )
    final = f"SELECT rw0.start_id, {cols}\nFROM rw0\n{joins}\nORDER BY rw0.start_id"
    return ",\n".join(ctes), final


def walk_skipgram_pairs(
    graph: Graph, length: int = 3, window: int = 2
) -> DataFrame:
    """(center, context, n) — skip-gram co-occurrence pairs harvested
    from the deterministic random walks: the DeepWalk/node2vec training
    corpus (Perozzi et al. 2014) produced as a DataFrame, ready to feed
    an embedding trainer.

    Scale shape: the walk table is n rows × (length+1) narrow columns;
    pair emission is ONE stack projection (no join), and the count is a
    pair-vocabulary-bounded aggregate. Both the walks and the pairs are
    hash-deterministic, so the whole composition stays oracle-exact."""
    w = random_walks(graph, length)
    cols = ["start_id"] + [f"v{s}" for s in range(1, length + 1)]
    pairs = [
        (i, j)
        for i in range(len(cols))
        for j in range(len(cols))
        if i != j and abs(i - j) <= window
    ]
    stack_args = ", ".join(f"{cols[i]}, {cols[j]}" for i, j in pairs)
    return (
        w.select(
            F.expr(
                f"stack({len(pairs)}, {stack_args}) AS (center, context)"
            )
        )
        .filter(F.col("center").isNotNull() & F.col("context").isNotNull())
        .groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n"))
    )


def skipgram_oracle_sql(length: int = 3, window: int = 2) -> str:
    """Final SELECT over the walk CTE chain's output (composes after
    ``oracle_ctes`` wrapped as ``wsg_walks``)."""
    cols = ["start_id"] + [f"v{s}" for s in range(1, length + 1)]
    pairs = [
        (i, j)
        for i in range(len(cols))
        for j in range(len(cols))
        if i != j and abs(i - j) <= window
    ]
    union = "\nUNION ALL\n".join(
        f"SELECT {cols[i]} AS center, {cols[j]} AS context FROM wsg_walks"
        for i, j in pairs
    )
    return f"""SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
FROM ({union})
WHERE center IS NOT NULL AND context IS NOT NULL
GROUP BY 1, 2"""
