"""Bipartite projections — parity with the Gelly-successor
`BipartiteGraph.projectionTopSimple/Full` surface (FLINK-2910; the
reference prototype predates it). The customer–supplier graph is the
natural bipartite instance here: the TOP projection connects two
customers iff they share a supplier, weighted by how many they share.

Scale design: a projection is a self-join of the edge list on the
shared endpoint — a supplier with m customers contributes m^2 pairs,
so one hub turns the projection quadratic (the same blowup as hot
shingles / hot co-occurrence cells elsewhere in this repo). The
projection therefore CAPS each shared endpoint's membership list to
its ``cap`` lowest-id members before the join (deterministic, the
uu-builder hot-cell policy): worst-case cost is n_endpoints × cap^2
regardless of skew, and the DuckDB oracle applies the identical cap,
so parity is exact. Applications needing exact hub weights raise the
cap knowingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.reuse import reuse_leaf

PROJ_CAP = 64
PROJ_TOP_K = 1000


def project_top(
    graph: Graph, cap: int = PROJ_CAP, top_k: int = PROJ_TOP_K
) -> DataFrame:
    """(u, v, shared) — top-side pairs (u < v, both sources) sharing at
    least one target, weight = number of shared (capped) targets;
    deterministic top-k by (shared DESC, u, v)."""
    e = graph.edges.select("src", "dst")
    w = Window.partitionBy("dst").orderBy("src")
    # both sides of the self-join read one leaf: the window's shuffle
    # runs once (plans.reuse)
    capped = reuse_leaf(
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .select("src", "dst")
    )
    a = capped.select(F.col("src").alias("u"), "dst")
    b = capped.select(F.col("src").alias("v"), "dst")
    return (
        a.join(b, "dst")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("shared"))
        .orderBy(F.desc("shared"), "u", "v")
        .limit(top_k)
    )


def project_top_sql(
    edges_cte: str, cap: int = PROJ_CAP, top_k: int = PROJ_TOP_K
) -> str:
    """DuckDB twin over an (src, dst) edges CTE."""
    return f"""SELECT a.src AS u, b.src AS v,
       CAST(COUNT(*) AS BIGINT) AS shared
FROM (
    SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY dst ORDER BY src) AS rn
        FROM {edges_cte}
    ) WHERE rn <= {cap}
) a
JOIN (
    SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY dst ORDER BY src) AS rn
        FROM {edges_cte}
    ) WHERE rn <= {cap}
) b ON a.dst = b.dst AND a.src < b.src
GROUP BY 1, 2
ORDER BY shared DESC, u, v LIMIT {top_k}"""
