"""DAG longest path + topological levels via bounded iterative
relaxation (SURVEY.md §2.10 extension — critical-path / scheduling
analytics; no reference equivalent).

The recurrence is the DAG Bellman-Ford dual: longest(v) = max over
in-edges (longest(u) + w(u, v)), level(v) = max(level(u) + 1) — both
monotone maxima, so K rounds of relax-all converge exactly for any DAG
whose longest hop-path is ≤ K (on a graph with cycles the bounded run
reports K-hop maxima; level(v) saturating AT K is the standard cycle
detector). Each round is ONE edge join + ONE (id)-keyed max aggregate —
at 100 TB this is the same shape as the delta-Pregel SSSP kernel and
would adopt its frontier pruning; here rounds are few and fixed.

The fixture is the rows×cols right/down grid DAG with deterministic
integer weights from the portable affine hash family, so the DuckDB
oracle replays the identical graph and checks the definition by
enumerating every monotone path (recursive CTE, no cycle guard needed
on a DAG). Integer weights keep both sides sum-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_A, MINHASH_B, MINHASH_P
from ..graph import Graph
from ..operators.iterate import iterate
from ..plans.checkpoints import scratch_scope
from ..sources.generators import grid_graph

W_MOD = 50  # weights in 1..50


def weighted_grid_dag(spark: SparkSession, rows: int, cols: int) -> Graph:
    """Right/down grid DAG with w(src,dst) = 1 + (h(src·100+dst) mod 50)
    — deterministic, engine-portable (cols·rows ≤ 100 keeps the key
    unique)."""
    g = grid_graph(spark, rows, cols)
    key = F.col("src") * 100 + F.col("dst")
    w = (
        F.lit(1)
        + ((F.lit(MINHASH_A[0]) * key + F.lit(MINHASH_B[0])) % F.lit(MINHASH_P))
        % F.lit(W_MOD)
    ).cast("long")
    return g.map_edges(w)


@scratch_scope
def dag_longest_path(graph: Graph, max_rounds: int) -> DataFrame:
    """(id, level, longest): longest hop count and longest weighted path
    ENDING at each vertex, over ``graph``'s directed edges (edge weight
    in ``value``)."""
    e = graph.edges.select(
        "src", "dst", F.col("value").alias("w")
    ).localCheckpoint(eager=True)
    state = graph.vertices.select(
        "id",
        F.lit(0).cast("long").alias("level"),
        F.lit(0).cast("long").alias("longest"),
    ).localCheckpoint(eager=True)

    def round_(state: DataFrame, _it: int) -> DataFrame:
        msgs = state.join(e, state["id"] == e["src"]).select(
            F.col("dst").alias("id"),
            (F.col("level") + 1).alias("lvl_m"),
            (F.col("longest") + F.col("w")).alias("lng_m"),
        )
        agg = msgs.groupBy("id").agg(
            F.max("lvl_m").alias("lvl_m"), F.max("lng_m").alias("lng_m")
        )
        return state.join(agg, "id", "left").select(
            "id",
            F.greatest(F.col("level"), F.coalesce("lvl_m", F.lit(0))).alias("level"),
            F.greatest(
                F.col("longest"), F.coalesce("lng_m", F.lit(0).cast("long"))
            ).alias("longest"),
        )

    state, _, _ = iterate(state, round_, max_rounds)
    return state.select(
        "id", F.col("level").cast("long").alias("level"), "longest"
    )


def grid_dag_oracle_sql(rows: int, cols: int) -> str:
    """DuckDB twin: enumerate every monotone path in the grid DAG."""
    n = rows * cols
    w = (
        f"(1 + (({MINHASH_A[0]} * (src * 100 + dst) + {MINHASH_B[0]})"
        f" % {MINHASH_P}) % {W_MOD})"
    )
    return f"""WITH RECURSIVE
dl_cells AS (SELECT i // {cols} AS r, i % {cols} AS c
             FROM generate_series(0, {n - 1}) g(i)),
dl_edges AS MATERIALIZED (
  SELECT src, dst, {w} AS w FROM (
    SELECT r*{cols}+c AS src, r*{cols}+c+1 AS dst FROM dl_cells
    WHERE c < {cols - 1}
    UNION ALL
    SELECT r*{cols}+c, (r+1)*{cols}+c FROM dl_cells WHERE r < {rows - 1})),
dl_walk(v, lvl, d) AS (
  SELECT i, 0, CAST(0 AS BIGINT) FROM generate_series(0, {n - 1}) g(i)
  UNION ALL
  SELECT e.dst, w.lvl + 1, w.d + e.w
  FROM dl_walk w JOIN dl_edges e ON e.src = w.v)
SELECT v AS id, CAST(MAX(lvl) AS BIGINT) AS level,
       CAST(MAX(d) AS BIGINT) AS longest
FROM dl_walk GROUP BY 1"""
