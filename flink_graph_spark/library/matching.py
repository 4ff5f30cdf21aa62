"""Maximal bipartite matching via deterministic propose–accept rounds
(the distributed greedy matching of Israeli & Itai 1986, specialized to
bipartite graphs; SURVEY.md §2.10 extension — assignment/allocation
analytics over the customer–supplier graph).

Each round: every free left vertex proposes to its maximum free right
neighbor, every right vertex accepts its maximum proposer, matched
vertices drop out of the remaining edge set. Both steps are plain max
aggregates — fully deterministic (no floats, no randomness), so the
DuckDB oracle replays the rounds unrolled. Every round matches at
least one pair per connected conflict cluster; a bounded K leaves the
long tail unmatched (visible: the matching is whatever the K rounds
produced — rerun with higher K to finish; at 100 TB each round is one
groupBy(src) + one groupBy(dst) + two anti-joins, all on a shrinking
edge set).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.iterate import iterate
from ..plans.checkpoints import scratch_scope


def _accept(free: DataFrame) -> DataFrame:
    """One propose–accept round's accepted pairs, checkpointed."""
    return (
        free.groupBy("src").agg(F.max("dst").alias("dst"))
        .groupBy("dst").agg(F.max("src").alias("src"))
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )


@scratch_scope
def bipartite_matching(graph: Graph, max_rounds: int = 5) -> DataFrame:
    """(src, dst) matched pairs after ``max_rounds`` propose–accept
    rounds over ``graph``'s directed edges (src side proposes), one
    accepted-pairs checkpoint per round."""
    edges = graph.edges.select("src", "dst")
    if max_rounds <= 0:
        return edges.limit(0)
    accepted = []

    def round_(free: DataFrame, _it: int) -> DataFrame:
        acc = _accept(free)
        accepted.append(acc)
        return free.join(acc.select("src"), "src", "left_anti").join(
            acc.select("dst"), "dst", "left_anti"
        )

    free, _, _ = iterate(
        edges.distinct().localCheckpoint(eager=True), round_, max_rounds - 1
    )
    # the last round stops at its accepted pairs: the edge set it would
    # leave feeds nothing (the oracle's unrolled chain stops there too)
    accepted.append(_accept(free))
    return reduce(DataFrame.unionByName, accepted)


def oracle_ctes(edges_cte: str, max_rounds: int = 5) -> tuple[str, str]:
    """(CTEs, final SELECT) DuckDB twin — the same rounds, unrolled."""
    ctes = [
        f"""bm_e0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM {edges_cte})"""
    ]
    for r in range(1, max_rounds + 1):
        ctes.append(
            f"""bm_p{r} AS MATERIALIZED (
  SELECT src, MAX(dst) AS dst FROM bm_e{r - 1} GROUP BY 1)"""
        )
        ctes.append(
            f"""bm_a{r} AS MATERIALIZED (
  SELECT MAX(src) AS src, dst FROM bm_p{r} GROUP BY dst)"""
        )
        if r < max_rounds:
            # the last round's residual edge set has no consumer
            ctes.append(
                f"""bm_e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM bm_e{r - 1} e
  WHERE e.src NOT IN (SELECT src FROM bm_a{r})
    AND e.dst NOT IN (SELECT dst FROM bm_a{r}))"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT src, dst FROM bm_a{r}" for r in range(1, max_rounds + 1)
    )
    return ",\n".join(ctes), union
