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
round's winners, and one anti-join removing winners and their
neighbors from the undecided set; the undecided set shrinks
geometrically (Luby: expected O(log n) rounds), so like k-core the
early rounds dominate. Only the undecided set is checkpointed per
round (its survivor count doubles as the next round's emptiness
check). The winner frames stay lazy over their round's undecided
checkpoint and are unioned into ONE materialization after the loop,
so every round's undecided checkpoint stays resident until then:
checkpoint storage is O(max_iter) rounds, bounded by the geometric
shrink, and all of it is released once the result is materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoints import release_local_checkpoint

PRIORITY_MULT = 2654435761
PRIORITY_MOD = 4294967296
PRIORITY_SHIFT = 4194304  # 2^22 — ids must be < this for a total order


def priority_col(id_col: str = "id") -> F.Column:
    return (
        (F.col(id_col) * PRIORITY_MULT) % PRIORITY_MOD
    ) * PRIORITY_SHIFT + F.col(id_col)


def maximal_independent_set(graph: Graph, max_iter: int = 6) -> DataFrame:
    """Returns (id,) — the MIS members, sorted. ``max_iter`` bounds the
    rounds (mirrored by the oracle); Luby converges in O(log n)
    expected rounds, and on convergence extra rounds are no-ops."""
    edges = graph.simple_undirected_edges().localCheckpoint(eager=True)
    und = graph.vertices.select(
        "id", priority_col("id").alias("p")
    ).localCheckpoint(eager=True)

    # r10 (guide §2.4 remove shuffles / §2.6 driver round-trips): the
    # old round built ``ue`` = edges semi-joined to und on BOTH
    # endpoints and fed it to the neighbor-min agg and the removal set.
    # Both semi-joins are provably redundant:
    #   * nbr_min groups by src, and winners LEFT-joins it FROM und —
    #     groups whose src is already decided are simply never looked
    #     up, so filtering src ∈ und changes nothing; dst ∈ und is the
    #     inner join with the (dst, np) state itself.
    #   * removed is anti-joined against und — neighbors that are
    #     already decided subtract nothing, so filtering the winner
    #     fan-out to und is a no-op.
    # Dropping ue removes two edge-scale semi-joins (and their
    # exchanges/broadcasts) from every round. The per-round eager
    # checkpoint of the accumulating ``mis`` frame is gone too: winner
    # frames stay lazy over their round's (kept-alive) und checkpoint
    # and union into ONE materialization after the loop — same total
    # compute (winners were always evaluated twice: once under the
    # removal count, once under the mis materialization), max_iter-1
    # fewer driver actions. Round walls / job counts: OPTIMIZATION_r10.md.
    winner_frames: list[DataFrame] = []
    und_ckpts: list[DataFrame] = [und]
    n_und: int | None = None  # carried from the round-end count below
    for i in range(max_iter):
        # first round: one cheap scan of the initial checkpoint; later
        # rounds reuse the count that materialized und (no extra job)
        if (n_und == 0) or (n_und is None and und.isEmpty()):
            break
        nbr_min = (
            edges.join(
                und.select(F.col("id").alias("dst"), F.col("p").alias("np")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("np").alias("nmin"))
        )
        winners = (
            und.join(nbr_min, "id", "left")
            .where(F.col("nmin").isNull() | (F.col("p") < F.col("nmin")))
            .select("id")
        )
        winner_frames.append(winners)
        if i == max_iter - 1:
            # the final round's undecided-set update feeds nothing —
            # skip it (the oracle's unrolled chain stops at the same
            # point)
            break
        # no .distinct(): the only consumer is the left_anti below, for
        # which duplicate right-side keys are a no-op — deduping first
        # costs one extra exchange+agg per round for nothing
        removed = winners.unionByName(
            edges.join(winners.withColumnRenamed("id", "src"), "src", "left_semi")
            .select(F.col("dst").alias("id"))
        )
        # LAZY checkpoint materialized by the survivor count — the count
        # doubles as next round's emptiness check, one action instead of
        # eager-checkpoint + isEmpty
        und = und.join(removed, "id", "left_anti").localCheckpoint(eager=False)
        n_und = und.count()
        und_ckpts.append(und)

    mis = und.select("id").where(F.lit(False))
    for w in winner_frames:
        mis = mis.unionByName(w)
    # one materialization for the whole accumulated set; every round's
    # und checkpoint is still alive here (winner frames read them)
    mis = mis.localCheckpoint(eager=True)
    for ckpt in und_ckpts:
        release_local_checkpoint(ckpt)
    release_local_checkpoint(edges)
    return mis.orderBy("id")


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
