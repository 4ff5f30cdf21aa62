"""Distributed graph coloring — iterated-MIS (Luby 1986 / Jones &
Plassmann 1993) with deterministic portable priorities (SURVEY.md
§2.10 extension; builds on the same local-maxima round as
``library/mis.py``).

Round r colors every still-uncolored vertex whose priority beats all
its uncolored neighbors — each round's winners are an independent set,
so assigning them color r yields a proper coloring in O(log n) expected
rounds. Priority is the engine-portable md5-prefix hash with an id
tie-break folded in (p = h32(id)·2^20 + id — unique for id < 2^20), so
the DuckDB oracle replays every round bit-for-bit as unrolled CTEs.

Scale shape per round: ONE edge join against the uncolored state + ONE
(id)-keyed max aggregate + one left join — the MIS kernel. State
shrinks every round (colored vertices drop out of the neighbor-max),
exactly the delta/workset behavior of the Pregel loops. A bounded K
leaves stragglers NULL (reported, not hidden) — at 100 TB you run
rounds until the uncolored count hits zero; the fixture K is its
measured round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h32, h32_sql
from ..graph import Graph
from ..operators.iterate import iterate
from ..plans.checkpoints import scratch_scope

PRIO_SHIFT = 1 << 20


def _priority(idcol):
    return h32(idcol.cast("string")) * F.lit(PRIO_SHIFT) + idcol


@scratch_scope
def color_graph(graph: Graph, max_rounds: int) -> DataFrame:
    """(id, color) — color r assigned in round r (1-based); NULL if
    still uncolored after ``max_rounds``. Proper on the undirected
    view: adjacent vertices never share a color."""
    # a self-loop would make its vertex permanently uncolorable (it can
    # never beat its own priority); proper coloring is conventionally
    # defined on loop-free graphs, so the neighbor table drops loops
    sym = graph.simple_undirected_edges().localCheckpoint(eager=True)
    state = graph.vertices.select(
        "id",
        _priority(F.col("id")).alias("p"),
        F.lit(None).cast("long").alias("color"),
    ).localCheckpoint(eager=True)

    def round_(state: DataFrame, r: int) -> DataFrame:
        unc = state.filter(F.col("color").isNull())
        nbr_max = (
            sym.join(
                unc.select(F.col("id").alias("dst"), F.col("p").alias("np")),
                "dst",
            )
            .groupBy("src")
            .agg(F.max("np").alias("m"))
            .withColumnRenamed("src", "id")
        )
        return state.join(nbr_max, "id", "left").select(
            "id",
            "p",
            F.coalesce(
                F.col("color"),
                F.when(
                    F.col("p") > F.coalesce(F.col("m"), F.lit(-1)),
                    F.lit(r).cast("long"),
                ),
            ).alias("color"),
        )

    state, _, _ = iterate(state, round_, max_rounds)
    return state.select("id", "color")


def grid_oracle_sql(rows: int, cols: int, max_rounds: int) -> str:
    """DuckDB twin on the undirected rows×cols grid: the same rounds,
    unrolled."""
    n = rows * cols
    h = h32_sql("CAST(g.i AS VARCHAR)")
    ctes = [
        f"""gc_cells AS (SELECT i // {cols} AS r, i % {cols} AS c
             FROM generate_series(0, {n - 1}) g(i))""",
        f"""gc_sym AS MATERIALIZED (
  SELECT r*{cols}+c AS src, r*{cols}+c+1 AS dst FROM gc_cells
  WHERE c < {cols - 1}
  UNION ALL
  SELECT r*{cols}+c+1, r*{cols}+c FROM gc_cells WHERE c < {cols - 1}
  UNION ALL
  SELECT r*{cols}+c, (r+1)*{cols}+c FROM gc_cells WHERE r < {rows - 1}
  UNION ALL
  SELECT (r+1)*{cols}+c, r*{cols}+c FROM gc_cells WHERE r < {rows - 1})""",
        f"""gc_0 AS MATERIALIZED (
  SELECT g.i AS id, {h} * {PRIO_SHIFT} + g.i AS p,
         CAST(NULL AS BIGINT) AS color
  FROM generate_series(0, {n - 1}) g(i))""",
    ]
    for r in range(1, max_rounds + 1):
        ctes.append(
            f"""gc_{r} AS MATERIALIZED (
  SELECT s.id, s.p,
         COALESCE(s.color,
                  CASE WHEN s.p > COALESCE(mx.m, -1)
                       THEN CAST({r} AS BIGINT) END) AS color
  FROM gc_{r - 1} s LEFT JOIN (
    SELECT e.src AS id, MAX(nb.p) AS m
    FROM gc_sym e JOIN gc_{r - 1} nb ON nb.id = e.dst
    WHERE nb.color IS NULL GROUP BY 1) mx ON mx.id = s.id)"""
        )
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT id, color FROM gc_{max_rounds}"""
