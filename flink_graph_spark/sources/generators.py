"""Deterministic graph generators — parity with the Gelly-successor
generator package (org.apache.flink.graph.generator.*: Complete, Cycle,
Star, Grid, RMat …; the reference prototype `andralungu/flink-graph`
predates it). On Spark each generator is `spark.range` + column
expressions: no driver-side edge list, no I/O — a 10^12-edge test
graph materializes straight into executors at scan speed, which is how
you smoke-test 100 TB graph jobs without 100 TB of storage.

Determinism contract: every random choice (RMat quadrants) comes from
the engine-portable arithmetic hash family in ``functions.hashing``
(h_k(x) = (a·x + b) mod P scaled to [0, 1)), so DuckDB replays the
exact same graph via generate_series — the generators are
oracle-checkable like every other operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_A, MINHASH_B, MINHASH_P
from ..graph import Graph

# RMat quadrant probabilities (Chakrabarti, Zhan & Faloutsos 2004
# defaults): a=0.57 top-left, b=0.19 top-right, c=0.19 bottom-left.
RMAT_A = 0.57
RMAT_B = 0.19
RMAT_C = 0.19


def cycle_graph(spark: SparkSession, n: int) -> Graph:
    """n vertices 0..n-1, edges i -> (i+1) mod n."""
    e = spark.range(n).select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % n).alias("dst"),
        F.lit(1).cast("long").alias("value"),
    )
    return Graph.from_edges(e)


def complete_graph(spark: SparkSession, n: int) -> Graph:
    """All ordered pairs (i, j), i != j — n·(n-1) edges, generated as
    range(n^2) decoded arithmetically (no join)."""
    e = (
        spark.range(n * n)
        .select(
            F.expr(f"id div {n}").alias("src"),
            (F.col("id") % n).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .withColumn("value", F.lit(1).cast("long"))
    )
    return Graph.from_edges(e)


def star_graph(spark: SparkSession, n: int) -> Graph:
    """Hub 0 -> spokes 1..n-1."""
    e = spark.range(1, n).select(
        F.lit(0).cast("long").alias("src"),
        F.col("id").alias("dst"),
        F.lit(1).cast("long").alias("value"),
    )
    return Graph.from_edges(e)


def grid_graph(spark: SparkSession, rows: int, cols: int) -> Graph:
    """rows×cols lattice, right + down edges (id = r*cols + c)."""
    cells = spark.range(rows * cols).select(
        F.expr(f"id div {cols}").alias("r"), (F.col("id") % cols).alias("c")
    )
    right = cells.filter(F.col("c") < cols - 1).select(
        (F.col("r") * cols + F.col("c")).alias("src"),
        (F.col("r") * cols + F.col("c") + 1).alias("dst"),
    )
    down = cells.filter(F.col("r") < rows - 1).select(
        (F.col("r") * cols + F.col("c")).alias("src"),
        ((F.col("r") + 1) * cols + F.col("c")).alias("dst"),
    )
    e = right.unionByName(down).withColumn("value", F.lit(1).cast("long"))
    return Graph.from_edges(e)


def _u01(k: int, x):
    """k-th portable uniform in [0, 1) from integer column x."""
    return (
        (F.lit(MINHASH_A[k]) * x + F.lit(MINHASH_B[k])) % F.lit(MINHASH_P)
    ) / F.lit(float(MINHASH_P))


def _u01_sql(k: int, expr: str) -> str:
    return (
        f"((({MINHASH_A[k]} * ({expr}) + {MINHASH_B[k]}) % {MINHASH_P})"
        f" / {float(MINHASH_P)})"
    )


def rmat_edges(spark: SparkSession, scale: int, n_edges: int) -> DataFrame:
    """(src, dst) RMat edges over 2^scale vertices — one range scan,
    per-edge fully parallel bit recursion; level ℓ of edge i draws its
    quadrant from portable uniform u(ℓ, i)."""
    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for level in range(scale):
        u = _u01(level % len(MINHASH_A), F.col("id") * scale + level)
        src_bit = F.when(u >= F.lit(RMAT_A + RMAT_B), F.lit(1)).otherwise(
            F.lit(0)
        )
        dst_bit = F.when(
            (u >= F.lit(RMAT_A)) & (u < F.lit(RMAT_A + RMAT_B)), F.lit(1)
        ).otherwise(
            F.when(u >= F.lit(RMAT_A + RMAT_B + RMAT_C), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        src = src * 2 + src_bit
        dst = dst * 2 + dst_bit
    return spark.range(n_edges).select(
        src.alias("src"), dst.alias("dst")
    )


def rmat_edges_sql(scale: int, n_edges: int) -> str:
    """DuckDB CTE replaying the identical RMat arithmetic
    (composes as `rmat_edges AS MATERIALIZED (...)`)."""
    src = "0"
    dst = "0"
    for level in range(scale):
        u = _u01_sql(level % len(MINHASH_A), f"g.i * {scale} + {level}")
        src_bit = f"(CASE WHEN {u} >= {RMAT_A + RMAT_B} THEN 1 ELSE 0 END)"
        dst_bit = (
            f"(CASE WHEN {u} >= {RMAT_A} AND {u} < {RMAT_A + RMAT_B} THEN 1"
            f" WHEN {u} >= {RMAT_A + RMAT_B + RMAT_C} THEN 1 ELSE 0 END)"
        )
        src = f"(({src}) * 2 + {src_bit})"
        dst = f"(({dst}) * 2 + {dst_bit})"
    return f"""rmat_edges AS MATERIALIZED (
  SELECT {src} AS src, {dst} AS dst
  FROM (SELECT unnest(generate_series(0, {n_edges - 1})) AS i) g
)"""
