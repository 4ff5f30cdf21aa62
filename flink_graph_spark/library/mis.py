"""Maximal Independent Set — deterministic Luby iteration (§2.10
extension; the classic Pregel/Spargel showcase alongside CC/LPA).

Luby's algorithm with hash priorities instead of RNG: vertex v enters
the MIS in a round iff its priority is strictly smaller than every
UNDECIDED neighbor's; v and its neighbors then leave the undecided
set. Priority = ``((id * 2654435761) mod 2^32) * 2^22 + id`` — pure
int64 arithmetic identical on any engine, and collision-free for
id < 2^22 (the +id term makes it a total order), so rounds are fully
deterministic and the unrolled DuckDB oracle (``oracle_ctes``)
replays them exactly.

Scale: each round is one message aggregation (min neighbor priority
over the undecided subgraph, a single shuffle), one filter for the
round's winners, and one anti-join removing the winners' neighbors
from the undecided set; the undecided set shrinks
geometrically (Luby: expected O(log n) rounds), so like k-core the
early rounds dominate. The rounds run on ``operators.iterate``: the
state is the undecided vertices plus every winner so far, flagged
``w``, so one state checkpoint is live at a time and the result is the
``w`` rows of the last one. The count of undecided rows is the
kernel's fused convergence signal; the loop stops once none remain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.iterate import iterate
from ..plans.checkpoints import scratch_scope

PRIORITY_MULT = 2654435761
PRIORITY_MOD = 4294967296
PRIORITY_SHIFT = 4194304  # 2^22 — ids must be < this for a total order


def priority_col(id_col: str = "id") -> F.Column:
    return (
        (F.col(id_col) * PRIORITY_MULT) % PRIORITY_MOD
    ) * PRIORITY_SHIFT + F.col(id_col)


@scratch_scope
def maximal_independent_set(graph: Graph, max_iter: int = 6) -> DataFrame:
    """Returns (id,) — the MIS members, sorted. ``max_iter`` bounds the
    rounds (mirrored by the oracle); Luby converges in O(log n)
    expected rounds, and on convergence extra rounds are no-ops."""
    edges = graph.simple_undirected_edges().localCheckpoint(eager=True)
    state = graph.vertices.select(
        "id", priority_col("id").alias("p"), F.lit(False).alias("w")
    ).localCheckpoint(eager=True)

    def round_(state: DataFrame, _it: int) -> DataFrame:
        und = state.where(~F.col("w"))
        nbr_min = (
            edges.join(
                und.select(F.col("id").alias("dst"), F.col("p").alias("np")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("np").alias("nmin"))
        )
        # a vertex wins iff its priority beats every undecided neighbor's
        wins = F.col("nmin").isNull() | (F.col("p") < F.col("nmin"))
        flagged = und.join(nbr_min, "id", "left").select("id", "p", wins.alias("w"))
        # winners are pairwise non-adjacent, so dropping the winners'
        # neighbors keeps every winner; duplicate right-side keys are a
        # no-op for the left_anti, so the neighbor list is not deduped
        lost = edges.join(
            flagged.where("w").select(F.col("id").alias("src")), "src", "left_semi"
        ).select(F.col("dst").alias("id"))
        return state.where("w").unionByName(flagged.join(lost, "id", "left_anti"))

    state, _, _ = iterate(state, round_, max_iter, changed=~F.col("w"))
    return state.where("w").select("id").orderBy("id")


def oracle_ctes(
    edges_cte: str, vertices_cte: str, max_iter: int = 6
) -> tuple[str, str]:
    """(CTE text, final SELECT) — unrolled Luby rounds."""
    ctes = [
        f"""mis_e AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst FROM {edges_cte} WHERE src <> dst
    UNION
    SELECT dst AS src, src AS dst FROM {edges_cte} WHERE src <> dst
  )
)""",
        f"""mis_u0 AS MATERIALIZED (
  SELECT id, ((id * {PRIORITY_MULT}) % {PRIORITY_MOD}) * {PRIORITY_SHIFT} + id AS p
  FROM {vertices_cte}
)""",
        "mis_m0 AS (SELECT id FROM mis_u0 WHERE 1 = 0)",
    ]
    for i in range(1, max_iter + 1):
        p = i - 1
        ctes.append(
            f"""mis_nb{i} AS MATERIALIZED (
  SELECT e.src AS id, MIN(u2.p) AS nmin
  FROM mis_e e
  JOIN mis_u{p} u1 ON e.src = u1.id
  JOIN mis_u{p} u2 ON e.dst = u2.id
  GROUP BY 1
)"""
        )
        ctes.append(
            f"""mis_w{i} AS MATERIALIZED (
  SELECT u.id FROM mis_u{p} u
  LEFT JOIN mis_nb{i} n ON u.id = n.id
  WHERE n.nmin IS NULL OR u.p < n.nmin
)"""
        )
        ctes.append(
            f"""mis_m{i} AS MATERIALIZED (
  SELECT id FROM mis_m{p} UNION SELECT id FROM mis_w{i}
)"""
        )
        if i < max_iter:
            # the last round's undecided-set update has no consumer
            ctes.append(
                f"""mis_u{i} AS MATERIALIZED (
  SELECT u.id, u.p FROM mis_u{p} u
  WHERE u.id NOT IN (SELECT id FROM mis_w{i})
    AND u.id NOT IN (
      SELECT e.dst FROM mis_e e JOIN mis_w{i} w ON e.src = w.id
      WHERE EXISTS (SELECT 1 FROM mis_u{p} x WHERE x.id = e.dst)
    )
)"""
            )
    final = f"SELECT id FROM mis_m{max_iter} ORDER BY id"
    return ",\n".join(ctes), final


class MaximalIndependentSet:
    """GraphAlgorithm packaging: vertex value = membership flag."""

    def __init__(self, max_iter: int = 6):
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        members = maximal_independent_set(graph, self.max_iter)
        v = graph.vertices.select("id").join(
            members.select("id", F.lit(True).alias("value")), "id", "left"
        ).select("id", F.coalesce("value", F.lit(False)).alias("value"))
        return Graph(v, graph.edges)
