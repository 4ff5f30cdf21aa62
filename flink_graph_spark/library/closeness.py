"""Sampled closeness centrality via BATCHED multi-source BFS
(Gelly-successor / §2.10 extension; closeness on the full vertex set is
O(n·m) and sampled seed sets are the standard approximation — Eppstein
& Wang 2001).

The scale trick is the batching: instead of one BFS per seed (k
sequential Pregel runs, k × superstep scheduling floor), the k seeds
run as ONE iteration over a seed-replicated graph — vertex (v, s) is
encoded as id' = v*k + s and every edge is replicated k times with the
same encoding, so the existing delta Pregel kernel (min-propagation,
workset-pruned) computes all k BFS frontiers simultaneously; per
superstep there is exactly one join+agg regardless of k. Decode is one
bounded groupBy: closeness(v) = Σ_s 1/dist_s(v) over reached seeds
(the harmonic form — robust to disconnected graphs).

The unrolled-Bellman-Ford DuckDB oracle replays the SAME encoded graph,
so hop-exact parity holds at any fixed superstep count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.pregel import pregel
from ..rounding import ROUND_TO


def closeness_sample(
    graph: Graph, seeds: tuple[int, ...], max_iter: int = 6
) -> DataFrame:
    """(id, n_reached, closeness) for every vertex: harmonic closeness
    over hop distances FROM each seed (edges followed src→dst and
    dst→src: BFS on the undirected view). Seeds are a small fixed
    sample; dist to unreachable seeds contributes 0.
    """
    k = len(seeds)
    seed_df = graph.vertices.sparkSession.createDataFrame(
        [(i, s) for i, s in enumerate(seeds)], "sidx long, seed long"
    )
    enc_v = graph.vertices.select("id").crossJoin(F.broadcast(seed_df)).select(
        (F.col("id") * k + F.col("sidx")).alias("id"),
        F.col("id").alias("orig"),
        "seed",
    )
    sym = graph.edges.select("src", "dst").unionByName(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    enc_e = sym.crossJoin(F.broadcast(seed_df.select("sidx"))).select(
        (F.col("src") * k + F.col("sidx")).alias("src"),
        (F.col("dst") * k + F.col("sidx")).alias("dst"),
        F.lit(1).cast("long").alias("value"),
    )
    enc = Graph(
        enc_v.select("id", (F.col("orig") == F.col("seed")).alias("is_seed")),
        enc_e,
    )
    res = pregel(
        enc,
        initial=F.when(F.col("is_seed"), F.lit(0).cast("long")),
        msg_to_dst=F.col("src_dist") + F.col("value"),
        msg_to_dst_reads=("src",),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("dist"), F.col("__agg")),
        max_iter=max_iter,
        state_col="dist",
        delta=True,
    )
    return (
        res.vertices.select(F.expr(f"id div {k}").alias("id"), "dist")
        .groupBy("id")
        .agg(
            F.count(F.when(F.col("dist").isNotNull(), 1))
            .cast("long")
            .alias("n_reached"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("dist") > 0, 1.0 / F.col("dist"))
                    ),
                    F.lit(0.0),
                ),
                ROUND_TO,
            ).alias("closeness"),
        )
    )


def oracle_ctes(
    edges_cte: str, vertices_cte: str, seeds: tuple[int, ...], max_iter: int = 6
) -> tuple[str, str]:
    """(CTE text, final SELECT) — unrolled min-propagation over the
    seed-replicated encoded graph (same encoding as the Spark side)."""
    k = len(seeds)
    seed_vals = ", ".join(f"({i}, {s})" for i, s in enumerate(seeds))
    ctes = [
        f"cl_seeds AS (SELECT * FROM (VALUES {seed_vals}) AS t(sidx, seed))",
        f"""cl_e AS MATERIALIZED (
  SELECT e.src * {k} + s.sidx AS src, e.dst * {k} + s.sidx AS dst
  FROM (SELECT src, dst FROM {edges_cte}
        UNION ALL SELECT dst AS src, src AS dst FROM {edges_cte}) e
  CROSS JOIN cl_seeds s
)""",
        f"""cl_d0 AS MATERIALIZED (
  SELECT v.id * {k} + s.sidx AS id,
         CASE WHEN v.id = s.seed THEN CAST(0 AS BIGINT) END AS dist
  FROM {vertices_cte} v CROSS JOIN cl_seeds s
)""",
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""cl_d{i} AS MATERIALIZED (
  SELECT p.id, LEAST(p.dist, m.md) AS dist
  FROM cl_d{i - 1} p
  LEFT JOIN (
    SELECT e.dst AS id, MIN(s.dist + 1) AS md
    FROM cl_d{i - 1} s JOIN cl_e e ON s.id = e.src
    WHERE s.dist IS NOT NULL
    GROUP BY 1
  ) m ON p.id = m.id
)"""
        )
    final = f"""SELECT id // {k} AS id,
       CAST(COUNT(dist) AS BIGINT) AS n_reached,
       ROUND(COALESCE(SUM(CASE WHEN dist > 0 THEN 1.0 / dist END), 0.0),
             {ROUND_TO}) AS closeness
FROM cl_d{max_iter}
GROUP BY 1"""
    return ",\n".join(ctes), final
