"""Betweenness centrality — batched multi-source Brandes (Brandes 2001;
Gelly-successor / SURVEY.md §2.10 extension; the reference prototype has
no betweenness, this extends the same library surface as closeness).

Brandes' algorithm is two sweeps per source: a forward BFS that counts
shortest paths (σ), and a backward accumulation over the shortest-path
DAG (δ). The scale formulation here is the same batching trick as
``library/closeness.py``: ALL sources (or a sampled seed set — the
standard estimator, Brandes & Pich 2007) run simultaneously over a
composite (source, vertex) key, so each BFS level is ONE join + ONE
(s, v)-keyed aggregate regardless of seed count, and the backward sweep
is one join + aggregate per level. State is |seeds|·|reached| narrow
rows — never a frontier explosion, never per-seed job scheduling.

On an undirected (symmetrized) graph every ordered pair (s, t) and
(t, s) is counted, so scores are 2× the undirected-pair convention —
same convention in the DuckDB oracle, which replays the DEFINITION
(enumerate all shortest paths, count pass-throughs) rather than the
algorithm, making the parity check genuinely independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoints import scratch_scope
from ..rounding import ROUND_TO


@scratch_scope
def betweenness(graph: Graph, max_depth: int) -> DataFrame:
    """(id, betweenness) over the undirected view of ``graph``, with
    every vertex a source.

    ``max_depth`` bounds the BFS (the graph diameter for exact results).
    """
    sym = graph.symmetrized_edges().localCheckpoint(eager=True)
    v = graph.vertices.select("id")
    # ---- forward sweep: dist + path counts, all sources at once ----
    # One checkpoint per level (the frontier). The seen-set for the
    # anti-join is the union of checkpointed level frames — no second
    # materialization job per round.
    levels: list[DataFrame] = [
        v.select(
            F.col("id").alias("s"),
            F.col("id").alias("v"),
            F.lit(1).cast("long").alias("sigma"),
        ).localCheckpoint(eager=True)
    ]
    seen = levels[0].select("s", "v")
    for d in range(1, max_depth + 1):
        frontier = levels[-1]
        msgs = frontier.join(sym, frontier["v"] == sym["src"]).select(
            "s", F.col("dst").alias("v"), "sigma"
        )
        cand = msgs.groupBy("s", "v").agg(F.sum("sigma").alias("sigma"))
        nxt = cand.join(seen, ["s", "v"], "left_anti").localCheckpoint(
            eager=True
        )
        levels.append(nxt)
        seen = seen.unionByName(nxt.select("s", "v"))
    # ---- backward sweep: dependency accumulation per level ----
    # dep is kept PER LEVEL: round d only ever reads level d+1's
    # dependencies, so there is nothing to union until the end.
    dep_by_level: list[DataFrame | None] = [None] * (max_depth + 1)
    dep_by_level[max_depth] = levels[max_depth].select(
        "s", "v", F.lit(0.0).alias("dep")
    )
    for d in range(max_depth - 1, -1, -1):
        nxt = (
            levels[d + 1]
            .select(
                "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
            )
            .join(
                dep_by_level[d + 1].select(
                    "s", F.col("v").alias("w"), F.col("dep").alias("dep_w")
                ),
                ["s", "w"],
                "left",
            )
            .fillna(0.0, subset=["dep_w"])
        )
        cur = levels[d].select(
            "s", F.col("v").alias("u"), F.col("sigma").alias("sigma_u")
        )
        cand = cur.join(sym, cur["u"] == sym["src"]).select(
            "s", "u", "sigma_u", F.col("dst").alias("w")
        )
        msgs = cand.join(nxt, ["s", "w"])
        contrib = (F.col("sigma_u") / F.col("sigma_w")) * (
            F.lit(1.0) + F.col("dep_w")
        )
        dep_d = msgs.groupBy("s", F.col("u").alias("v")).agg(
            F.sum(contrib).alias("dep")
        )
        full_d = (
            levels[d]
            .select("s", "v")
            .join(dep_d, ["s", "v"], "left")
            .fillna(0.0, subset=["dep"])
            .localCheckpoint(eager=True)
        )
        dep_by_level[d] = full_d
    dep = dep_by_level[0]
    for df in dep_by_level[1:]:
        dep = dep.unionByName(df)
    bc = (
        dep.filter(F.col("v") != F.col("s"))
        .groupBy("v")
        .agg(F.sum("dep").alias("bc"))
    )
    return v.join(bc, v["id"] == bc["v"], "left").select(
        "id", F.round(F.coalesce(F.col("bc"), F.lit(0.0)), ROUND_TO).alias(
            "betweenness"
        )
    )


def grid_oracle_sql(rows: int, cols: int) -> str:
    """DuckDB oracle for exact betweenness on the undirected rows×cols
    grid: enumerate every simple walk up to the grid diameter, keep the
    shortest per ordered pair, count pass-throughs — the definition,
    independent of Brandes' recurrence."""
    n = rows * cols
    diam = (rows - 1) + (cols - 1)
    return f"""WITH RECURSIVE
gb_cells AS (SELECT i // {cols} AS r, i % {cols} AS c
             FROM generate_series(0, {n - 1}) g(i)),
gb_sym AS MATERIALIZED (
  SELECT r*{cols}+c AS src, r*{cols}+c+1 AS dst FROM gb_cells
  WHERE c < {cols - 1}
  UNION ALL
  SELECT r*{cols}+c+1, r*{cols}+c FROM gb_cells WHERE c < {cols - 1}
  UNION ALL
  SELECT r*{cols}+c, (r+1)*{cols}+c FROM gb_cells WHERE r < {rows - 1}
  UNION ALL
  SELECT (r+1)*{cols}+c, r*{cols}+c FROM gb_cells WHERE r < {rows - 1}),
gb_walk(s, v, len, path) AS (
  SELECT src, dst, 1, [src, dst] FROM gb_sym
  UNION ALL
  SELECT w.s, e.dst, w.len + 1, list_append(w.path, e.dst)
  FROM gb_walk w JOIN gb_sym e ON e.src = w.v
  WHERE w.len < {diam} AND NOT list_contains(w.path, e.dst)),
gb_sp AS MATERIALIZED (
  SELECT s, v AS t, MIN(len) AS d FROM gb_walk GROUP BY 1, 2),
gb_spath AS MATERIALIZED (
  SELECT w.s, w.v AS t, w.path FROM gb_walk w
  JOIN gb_sp p ON p.s = w.s AND p.t = w.v AND p.d = w.len),
gb_sigma AS MATERIALIZED (
  SELECT s, t, COUNT(*) AS sig FROM gb_spath GROUP BY 1, 2),
gb_through AS (
  SELECT p.s, p.t, u.iv AS v, COUNT(*) AS cnt
  FROM gb_spath p, UNNEST(p.path[2:-2]) AS u(iv)
  GROUP BY 1, 2, 3),
gb_bc AS (
  SELECT th.v, SUM(th.cnt * 1.0 / sg.sig) AS bc
  FROM gb_through th JOIN gb_sigma sg ON sg.s = th.s AND sg.t = th.t
  GROUP BY 1)
SELECT i AS id, ROUND(COALESCE(bc, 0.0), {ROUND_TO}) AS betweenness
FROM generate_series(0, {n - 1}) g(i) LEFT JOIN gb_bc ON gb_bc.v = g.i"""
