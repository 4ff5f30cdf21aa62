"""Strongly connected components — forward/backward min-label rounds
(§2.10 extension; the reference prototype ships only WEAKLY connected
components, `Graph.java` ~L945-1000 per SURVEY.md PROVENANCE).

Algorithm (deterministic FW-BW-min, the relational cousin of the
coloring method used by distributed SCC systems):

Per round over the REMAINING graph:
1. fwd(v) = min vertex id that can reach v along forward edges
   (delta-mode min-label propagation to fixpoint — the same kernel as
   weakly-connected components, directed one way).
2. bwd(v) = min vertex id v can reach (same kernel on reversed edges).
3. fwd(v) == bwd(v) == m  ⇔  m reaches v AND v reaches m, i.e.
   v ∈ SCC(m): set scc(v) = m, which peels v and its incident edges,
   and repeat on the remainder.

Every round completes at least the SCC of the smallest remaining id
(its members have fwd = bwd = that id), so the loop terminates; on
graphs whose condensation is shallow (the common case for real
dependency/link graphs) a handful of rounds suffices. Worst case
(a long chain of singleton SCCs) degrades to O(chain) rounds — the
documented trade for keeping every step a relational join that
Catalyst/AQE can plan at 100 TB scale. The inner fixpoints run the
shared delta-mode Pregel (only changed vertices message; early exit on
an empty frontier), so converged regions cost nothing.

Oracle: mutual transitive closure (`WITH RECURSIVE`) over the same
edge list — exact SCC by definition, viable at fixture scale, which is
exactly where the oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, GraphAlgorithm
from ..operators.iterate import iterate
from ..operators.pregel import pregel
from ..plans.checkpoints import release_local_checkpoint, scratch_scope


def _fwd_bwd_labels(
    v: DataFrame, e: DataFrame, max_iter: int
) -> tuple[DataFrame, DataFrame]:
    """(id, fwd, bwd) — fwd = min id with a directed path TO the vertex,
    bwd = min id the vertex has a directed path to (both include self)
    — and the inner Pregel's checkpoint those labels read.

    Both fixpoints run in ONE delta-mode Pregel with a two-channel
    struct state: the forward channel flows src→dst, the backward
    channel dst→src, each aggregated with a null-ignoring min. Fusing
    the channels halves the superstep count (and its per-superstep
    scheduler cost) vs two sequential propagations — the channels
    converge independently inside the same loop.
    """
    g = Graph(
        v.select("id", F.col("id").alias("value")),
        e.select("src", "dst", F.lit(1).cast("long").alias("value")),
    )
    null_l = F.lit(None).cast("long")
    res = pregel(
        g,
        initial=F.struct(F.col("id").alias("f"), F.col("id").alias("b")),
        msg_to_dst=F.struct(
            F.col("src_state").getField("f").alias("f"), null_l.alias("b")
        ),
        msg_to_src=F.struct(
            null_l.alias("f"), F.col("dst_state").getField("b").alias("b")
        ),
        msg_to_dst_reads=("src",),
        msg_to_src_reads=("dst",),
        agg=F.struct(
            F.min("__msg.f").alias("f"), F.min("__msg.b").alias("b")
        ).alias("__agg"),
        update=F.struct(
            F.least(F.col("state.f"), F.col("__agg.f")).alias("f"),
            F.least(F.col("state.b"), F.col("__agg.b")).alias("b"),
        ),
        max_iter=max_iter,
        delta=True,
    )
    labels = res.vertices.select(
        "id", F.col("state.f").alias("fwd"), F.col("state.b").alias("bwd")
    )
    return labels, res.checkpoint


@scratch_scope
def scc(graph: Graph, max_rounds: int = 5, max_iter: int = 10) -> DataFrame:
    """(id, scc) — scc = min vertex id of each strongly connected
    component, for every vertex peeled within ``max_rounds`` rounds
    (with enough rounds, every vertex; fixture queries size the bound
    to the condensation depth). ``max_iter`` bounds each inner
    fixpoint, which runs in delta mode: exact at any iteration count,
    it messages only changed vertices and exits early.

    The peel loop runs on ``operators.iterate``. The state is (id, scc)
    over every vertex, NULL until the vertex is peeled; a round runs the
    fixpoints over the unpeeled vertices and the edges between them and
    fills in the vertices whose fwd == bwd. ``changed`` counts the
    unpeeled vertices, so the loop stops, without a job of its own, at
    the round that peels the last one."""
    e = graph.edges.select("src", "dst")
    inner: list[DataFrame] = []

    def peel(state: DataFrame, it: int) -> DataFrame:
        # the previous round's fixpoint checkpoint fed only its state,
        # which the kernel has checkpointed by now
        for prev in inner:
            release_local_checkpoint(prev)
        rest = state.where(F.col("scc").isNull()).select("id")
        rest_e = e
        if it > 1:  # the seed peels nothing: round 1 reads every edge
            rest_e = e.join(
                rest.select(F.col("id").alias("src")), "src", "left_semi"
            ).join(rest.select(F.col("id").alias("dst")), "dst", "left_semi")
        labels, ck = _fwd_bwd_labels(rest, rest_e, max_iter)
        inner[:] = [ck]
        # the labels cover every unpeeled vertex, so the new state is a
        # union, not a join
        return state.where(F.col("scc").isNotNull()).unionByName(
            labels.select(
                "id",
                F.when(F.col("fwd") == F.col("bwd"), F.col("fwd")).alias("scc"),
            )
        )

    seed = graph.vertices.select("id", F.lit(None).cast("long").alias("scc"))
    state, _, _ = iterate(
        seed, peel, max_rounds, changed=F.col("scc").isNull()
    )
    return state.where(F.col("scc").isNotNull())


def oracle_sql(edges_values: str) -> str:
    """DuckDB twin: mutual transitive closure over a VALUES edge list
    (``edges_values`` like ``(1, 2), (2, 3)``)."""
    return f"""WITH RECURSIVE scc_e(src, dst) AS (SELECT * FROM (VALUES {edges_values}) t(src, dst)),
verts AS (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM scc_e UNION SELECT dst FROM scc_e
    )
),
reach(a, b) AS (
    SELECT src, dst FROM scc_e
    UNION
    SELECT r.a, e.dst FROM reach r JOIN scc_e e ON r.b = e.src
)
SELECT v.id,
       CAST(LEAST(v.id,
                  COALESCE(MIN(CASE WHEN r2.b IS NOT NULL THEN r1.b END),
                           v.id)) AS BIGINT) AS scc
FROM verts v
LEFT JOIN reach r1 ON r1.a = v.id
LEFT JOIN reach r2 ON r2.a = r1.b AND r2.b = v.id
GROUP BY v.id"""


class StronglyConnectedComponents(GraphAlgorithm):
    """GraphAlgorithm packaging: vertex value := SCC representative."""

    def __init__(self, max_rounds: int = 5, max_iter: int = 10):
        self.max_rounds = max_rounds
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        labels = scc(graph, self.max_rounds, self.max_iter)
        return Graph(
            labels.select("id", F.col("scc").alias("value")), graph.edges
        )
