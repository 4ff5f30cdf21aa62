"""Community detection with hop-attenuated label scores (§2.10
extension — the Gelly-successor `CommunityDetection` algorithm after
Leung et al., "Towards real-time community detection in large
networks"; the reference prototype ships only plain LabelPropagation,
`library/LabelPropagation.java` per SURVEY.md PROVENANCE).

Semantics (deterministic variant):
* vertex state = (label, score); init label = id, score = 1.0.
* superstep: every vertex sends (label, score × edge weight) across
  each incident edge (both directions — community structure is
  undirected).
* receiver groups its inbox BY LABEL: sum of scores ranks the labels
  (attenuated heavy votes beat many weak ones), argmax with
  label-descending tie-break; the adopted label's new score is the MAX
  single received score for it minus the attenuation ``delta`` — hops
  away from a label's origin weaken it, which is what stops the
  giant-label flooding that plain LPA suffers on hub graphs.
* empty inbox → state unchanged. Fixed ``max_iter`` supersteps
  (oracle-parity mode, like the library's PageRank/LPA).

Exactness across engines: with ``delta = 0.5`` and integer edge
weights every score is a dyadic rational (k/2) with magnitude far
below 2^52, so products, sums, and comparisons are BIT-EXACT in IEEE
doubles on both Spark and DuckDB — the argmax never flips on
last-bit float noise, and the oracle needs no rounding tolerance.

Plan shape (r10, guide §2.4 "remove shuffles outright"): the
symmetrized edge table (both directions of every stored row) is built
ONCE, hash(src)-partitioned and persisted for the loop, so each
superstep is ONE co-partitioned state join (only the small state side
shuffles), ONE exchange of the raw message stream by ``id``
(``repartition("id")`` — hash(id) satisfies the clustering requirement
of BOTH downstream aggregates, groupBy(id,label) and groupBy(id), and
of the state join, so the per-(id,label) sum, the per-id argmax and
the update join all run exchange-free on top of it), and the left join
back to state. The r9 shape instead joined state to BOTH endpoints of
the canonical table (shuffling the full edge×state triplet by dst
every superstep) and paid a second full exchange between the two aggs
((id,label) → (id)); per superstep that was 3 edge-sized exchanges
against this plan's 1. Regrouping is exact: every score is a dyadic
rational (see above), so sums are order-independent bit-for-bit. All
expressions stay in whole-stage codegen; lineage is truncated by the
``operators.iterate`` kernel every 2 supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, GraphAlgorithm
from ..operators.iterate import iterate

DELTA = 0.5  # hop attenuation; keep k/2-exact (see module docstring)
CHECKPOINT_EVERY = 2  # see the cadence table in operators/iterate.py


def community_detection(graph: Graph, max_iter: int = 4) -> DataFrame:
    """(id, label, score) after ``max_iter`` supersteps."""
    e = graph.edges.select("src", "dst", F.col("value").cast("double").alias("w"))
    # Symmetrize ONCE for the whole loop: every stored row {u, v}
    # delivers u's state to v AND v's state to u each superstep (the
    # undirected semantic; identical for self-loops, which message
    # twice in both formulations). Persisting the doubled table
    # hash(src)-partitioned makes the per-superstep state attach a
    # co-partitioned join — the r9 shape instead re-shuffled the full
    # edge×state triplet by dst every superstep (see module docstring).
    # One 2|E| shuffle up front replaces max_iter edge-sized exchanges;
    # at 100 TB this is the cs_und posture (a persisted symmetrized
    # table), scoped to the loop and released before returning.
    ue = (
        e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .repartition("src")
        .persist()
    )

    def superstep(v: DataFrame, _it: int) -> DataFrame:
        st = v.select(
            F.col("id").alias("__sid"), F.col("label").alias("l"),
            F.col("score").alias("sc"),
        )
        msgs = (
            ue.join(st, F.col("src") == F.col("__sid"))
            .select(
                F.col("dst").alias("id"),
                F.col("l").alias("label"),
                (F.col("sc") * F.col("w")).alias("msc"),
            )
            # one exchange carries the raw message stream; hash(id)
            # satisfies groupBy(id,label), groupBy(id) AND the update
            # join below, so nothing downstream re-shuffles (§2.4)
            .repartition("id")
        )
        per_label = msgs.groupBy("id", "label").agg(
            F.sum("msc").alias("s"), F.max("msc").alias("mx")
        )
        pick = per_label.groupBy("id").agg(
            F.max(F.struct("s", "label", "mx")).alias("p")
        )
        return v.join(pick, "id", "left").select(
            "id",
            F.coalesce(F.col("p.label"), F.col("label")).alias("label"),
            F.coalesce(F.col("p.mx") - F.lit(DELTA), F.col("score")).alias("score"),
        )

    v0 = graph.vertices.select(
        "id", F.col("id").alias("label"), F.lit(1.0).alias("score")
    ).localCheckpoint(eager=True)
    v, _, _ = iterate(v0, superstep, max_iter, CHECKPOINT_EVERY)
    # the kernel checkpoints the final superstep, so the loop-scoped
    # symmetrized cache can go immediately
    ue.unpersist()
    return v


def oracle_ctes(
    ue_cte: str, vertices_cte: str, max_iter: int = 4
) -> tuple[str, str]:
    """(CTE text, final SELECT). ``ue_cte`` must hold BOTH directions
    (src, dst, value); replays the superstep pair of GROUP BYs with the
    same (s DESC, label DESC) argmax order."""
    ctes = [
        f"cd0 AS MATERIALIZED (SELECT id, id AS label, 1.0 AS score"
        f" FROM {vertices_cte})"
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""cdl{i} AS MATERIALIZED (
  SELECT e.dst AS id, s.label,
         SUM(s.score * e.value) AS s, MAX(s.score * e.value) AS mx
  FROM cd{i - 1} s JOIN {ue_cte} e ON s.id = e.src
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""cdp{i} AS MATERIALIZED (
  SELECT id, label, mx FROM cdl{i}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY id
                             ORDER BY s DESC, label DESC) = 1
)"""
        )
        ctes.append(
            f"""cd{i} AS MATERIALIZED (
  SELECT c.id, COALESCE(p.label, c.label) AS label,
         COALESCE(p.mx - {DELTA}, c.score) AS score
  FROM cd{i - 1} c LEFT JOIN cdp{i} p ON c.id = p.id
)"""
        )
    final = f"SELECT id, label, score FROM cd{max_iter}"
    return ",\n".join(ctes), final


class CommunityDetection(GraphAlgorithm):
    """GraphAlgorithm packaging: vertex value := community label."""

    def __init__(self, max_iter: int = 4):
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        labels = community_detection(graph, self.max_iter)
        return Graph(
            labels.select("id", F.col("label").alias("value")), graph.edges
        )
