"""HITS (hubs & authorities) — Gelly-successor library algorithm
(org.apache.flink.graph.library.linkanalysis.HITS; the prototype
reference stops at PageRank/SSSP/LPA/CC, so this is a §2.10 extension
in the same GraphAlgorithm packaging).

Semantics: hub/auth init 1.0; per iteration
  auth(v) = Σ hub(u) over in-edges u→v
  hub(u)  = Σ auth(v) over out-edges u→v (the NEW auth)
with ONE L1 normalization of each vector at the end. Because both
phases are linear maps, per-iteration L1 normalization only rescales
the vectors — deferring it to a single final normalize yields the
identical normalized result while removing two scalar-aggregate jobs
(and their plan re-evaluation) per iteration. Magnitudes grow like
(avg degree)^(2·iter): with doubles this is safe for any practical
iteration count (overflow needs ~308 orders of magnitude).

Fixed iteration count → DuckDB-oracle-able via unrolled CTEs
(``oracle_ctes``), same contract as PageRank.

Scale: each iteration is two aggregate_messages passes (single-sided
reads → one vertex join each); the edge table is used untouched, so a
builder's shared src-partitioned cache serves every iteration. The
state after the auth half is read twice (the hub messages and the hub
update join), and over a cached edge table AQE cannot reuse an
exchange between the two reads, so it is re-rooted on one leaf
(``plans.reuse``) and its stages run once. The loop runs on the
``operators.iterate`` kernel with one checkpoint per iteration; see the
kernel's cadence table. The final totals are 1-row aggregates broadcast
back into the plan — never a driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, GraphAlgorithm
from ..operators.iterate import iterate
from ..plans.reuse import reuse_leaf


def hits(graph: Graph, max_iter: int = 5, round_to: int | None = 6) -> DataFrame:
    """Returns (id, hub, auth), both L1-normalized, after ``max_iter``
    full (auth then hub) iterations."""

    def iteration(v: DataFrame, _it: int) -> DataFrame:
        auth_msgs = graph.aggregate_messages(
            agg=[F.sum("__msg").alias("__raw")],
            msg_to_dst=F.col("src_hub"),
            msg_to_dst_reads=("src",),
            vertices=v,
        )
        v = reuse_leaf(
            v.select("id", "hub")
            .join(auth_msgs, "id", "left")
            .select(
                "id", "hub", F.coalesce(F.col("__raw"), F.lit(0.0)).alias("auth")
            )
        )
        hub_msgs = graph.aggregate_messages(
            agg=[F.sum("__msg").alias("__raw")],
            msg_to_src=F.col("dst_auth"),
            msg_to_src_reads=("dst",),
            vertices=v,
        )
        return (
            v.select("id", "auth")
            .join(hub_msgs, "id", "left")
            .select(
                "id", F.coalesce(F.col("__raw"), F.lit(0.0)).alias("hub"), "auth"
            )
        )

    v0 = reuse_leaf(
        graph.vertices.select(
            "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
        )
    )
    v, _, _ = iterate(v0, iteration, max_iter)

    totals = v.agg(
        F.sum("hub").alias("__ht"), F.sum("auth").alias("__at")
    )
    out = v.crossJoin(F.broadcast(totals)).select(
        "id",
        (F.col("hub") / F.nullif(F.col("__ht"), F.lit(0.0))).alias("hub"),
        (F.col("auth") / F.nullif(F.col("__at"), F.lit(0.0))).alias("auth"),
    )
    if round_to is not None:
        out = out.select(
            "id",
            F.round("hub", round_to).alias("hub"),
            F.round("auth", round_to).alias("auth"),
        )
    return out


def oracle_ctes(
    edges_cte: str,
    vertices_cte: str,
    max_iter: int = 5,
    round_to: int = 6,
) -> tuple[str, str]:
    """(extra CTE text, final SELECT) — unrolled HITS with the same
    deferred-normalization semantics, composable by the caller exactly
    like pagerank.oracle_ctes."""
    ctes = [
        f"ha0 AS MATERIALIZED (SELECT id, 1.0 AS hub, 1.0 AS auth"
        f" FROM {vertices_cte})"
    ]
    for i in range(1, max_iter + 1):
        p = f"ha{i - 1}"
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT v.id, v.hub, COALESCE(m.s, 0.0) AS auth
  FROM {p} v
  LEFT JOIN (
    SELECT e.dst AS id, SUM(h.hub) AS s
    FROM {p} h JOIN {edges_cte} e ON h.id = e.src
    GROUP BY 1
  ) m ON v.id = m.id
)"""
        )
        ctes.append(
            f"""ha{i} AS MATERIALIZED (
  SELECT a.id, COALESCE(m.s, 0.0) AS hub, a.auth
  FROM a{i} a
  LEFT JOIN (
    SELECT e.src AS id, SUM(a2.auth) AS s
    FROM a{i} a2 JOIN {edges_cte} e ON a2.id = e.dst
    GROUP BY 1
  ) m ON a.id = m.id
)"""
        )
    final = (
        f"SELECT id,"
        f" ROUND(hub / NULLIF((SELECT SUM(hub) FROM ha{max_iter}), 0.0),"
        f" {round_to}) AS hub,"
        f" ROUND(auth / NULLIF((SELECT SUM(auth) FROM ha{max_iter}), 0.0),"
        f" {round_to}) AS auth"
        f" FROM ha{max_iter}"
    )
    return ",\n".join(ctes), final


class HITS(GraphAlgorithm):
    """GraphAlgorithm packaging (ctor (maxIter), Gelly HITS style)."""

    def __init__(self, max_iter: int = 5):
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        scores = hits(graph, self.max_iter, round_to=None)
        return Graph(
            scores.select(
                "id", F.struct("hub", "auth").alias("value")
            ),
            graph.edges,
        )
