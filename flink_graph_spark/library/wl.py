"""Weisfeiler–Leman color refinement (1-WL / canonical vertex
fingerprints; Weisfeiler & Leman 1968, the graph-kernel and
GNN-expressivity primitive — SURVEY.md §2.10 extension).

Each round every vertex rehashes (own color | sorted multiset of
neighbor colors): vertices end in the same class iff 1-WL cannot
distinguish their neighborhoods, giving canonical structural roles
(corner vs edge vs interior …) and a cheap graph fingerprint (the
color histogram) for isomorphism screening / structural dedup.

Scale shape per round: one edge join against the color table + one
(id)-keyed sort-agg — the signature string is bounded by the max
degree, and the color table stays n narrow rows. All hashing is the
portable md5-prefix family, and the sorted-multiset signature is built
with the same separator arithmetic in both engines, so the refinement
trace is replayed bit-for-bit by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h32, h32_sql
from ..graph import Graph
from ..operators.iterate import iterate
from ..plans.checkpoints import scratch_scope


WL_ROUNDS = 3


@scratch_scope
def wl_color_classes(graph: Graph) -> DataFrame:
    """(color, n) — 1-WL color-class histogram after ``WL_ROUNDS``
    refinement rounds over the undirected view (initial color =
    degree)."""
    sym = graph.symmetrized_edges().localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("c")
    )
    state = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .select("id", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )

    def round_(state: DataFrame, _it: int) -> DataFrame:
        nbr = (
            sym.join(
                state.select(F.col("id").alias("dst"), F.col("c").alias("nc")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.array_join(
                    F.array_sort(F.collect_list("nc")), ","
                ).alias("sig")
            )
        )
        return state.join(nbr, "id", "left").select(
            "id",
            h32(
                F.concat(
                    F.col("c").cast("string"),
                    F.lit("|"),
                    F.coalesce("sig", F.lit("")),
                )
            ).alias("c"),
        )

    state, _, _ = iterate(state, round_, WL_ROUNDS)
    return state.groupBy(F.col("c").alias("color")).agg(
        F.count("*").cast("long").alias("n")
    )


def grid_oracle_sql(rows: int, cols: int, rounds: int = 3) -> str:
    """DuckDB twin on the undirected rows×cols grid."""
    n = rows * cols
    ctes = [
        f"""wl_cells AS (SELECT i // {cols} AS r, i % {cols} AS c
             FROM generate_series(0, {n - 1}) g(i))""",
        f"""wl_sym AS MATERIALIZED (
  SELECT r*{cols}+c AS src, r*{cols}+c+1 AS dst FROM wl_cells
  WHERE c < {cols - 1}
  UNION ALL
  SELECT r*{cols}+c+1, r*{cols}+c FROM wl_cells WHERE c < {cols - 1}
  UNION ALL
  SELECT r*{cols}+c, (r+1)*{cols}+c FROM wl_cells WHERE r < {rows - 1}
  UNION ALL
  SELECT (r+1)*{cols}+c, r*{cols}+c FROM wl_cells WHERE r < {rows - 1})""",
        f"""wl_c0 AS MATERIALIZED (
  SELECT g.i AS id,
         COALESCE((SELECT COUNT(*) FROM wl_sym e WHERE e.src = g.i),
                  0) AS c
  FROM generate_series(0, {n - 1}) g(i))""",
    ]
    for r in range(1, rounds + 1):
        h = h32_sql(
            "concat(CAST(p.c AS VARCHAR), '|', COALESCE(m.sig, ''))"
        )
        ctes.append(
            f"""wl_c{r} AS MATERIALIZED (
  SELECT p.id, {h} AS c
  FROM wl_c{r - 1} p LEFT JOIN (
    SELECT e.src AS id,
           array_to_string(list(s.c ORDER BY s.c), ',') AS sig
    FROM wl_sym e JOIN wl_c{r - 1} s ON s.id = e.dst
    GROUP BY 1) m ON p.id = m.id)"""
        )
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT c AS color, CAST(COUNT(*) AS BIGINT) AS n
FROM wl_c{rounds} GROUP BY 1"""
