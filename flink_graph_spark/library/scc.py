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
   v ∈ SCC(m): emit (v, scc=m), peel completed vertices (and their
   incident edges, via anti-joins) and repeat on the remainder.

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
from ..operators.pregel import pregel
from ..plans.checkpoints import release_local_checkpoint


def _fwd_bwd_labels(
    v: DataFrame, e: DataFrame, max_iter: int, delta: bool = True
) -> DataFrame:
    """(id, fwd, bwd) — fwd = min id with a directed path TO the vertex,
    bwd = min id the vertex has a directed path to (both include self).

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
        delta=delta,
    )
    return res.vertices.select(
        "id", F.col("state.f").alias("fwd"), F.col("state.b").alias("bwd")
    )


def scc(
    graph: Graph,
    max_rounds: int = 5,
    max_iter: "int | tuple[int, ...]" = 10,
    delta: bool = True,
) -> DataFrame:
    """(id, scc) — scc = min vertex id of each strongly connected
    component. ``max_rounds`` bounds the peel loop (unpeeled leftovers
    keep scc = their round-final fwd label only if fwd==bwd, so with
    enough rounds the result is exact; fixture queries size the bound
    to the condensation depth), ``max_iter`` each inner fixpoint — a
    tuple gives a per-round schedule (last entry repeats), letting
    fixed-round callers size later rounds to the shrinking remainder:
    after a peel the remaining label depth only ever decreases, and in
    non-delta mode every budgeted superstep runs whether needed or not,
    so each superstep trimmed from a late round is a scheduler-floor
    job saved.

    ``delta=True`` (the scale default) messages only changed vertices
    and exits each fixpoint early (the frontier count rides each
    superstep's checkpoint job as an observed metric), at the cost of
    an emptiness check and three checkpoints per peel round. For
    small/shallow graphs where ``max_iter`` is sized to the known label
    depth, ``delta=False`` runs exactly the budgeted supersteps and
    leaves the peel frames lazy, saving those per-round jobs."""
    v = graph.vertices.select("id")
    e = graph.edges.select("src", "dst")
    done: DataFrame | None = None
    iters = (max_iter,) if isinstance(max_iter, int) else tuple(max_iter)

    for rnd in range(max_rounds):
        # The early-exit check is a job per round; in fixed-round mode
        # (delta=False, rounds sized to the known condensation depth) a
        # round over an already-empty remainder is a no-op anyway, so
        # the check is only worth its job when delta mode may exit early.
        if delta and v.isEmpty():
            break
        labels = _fwd_bwd_labels(
            v, e, iters[min(rnd, len(iters) - 1)], delta=delta
        )
        completed = labels.filter(F.col("fwd") == F.col("bwd")).select(
            "id", F.col("fwd").alias("scc")
        )
        if delta:
            # at scale: pin the peel set before three downstream joins
            completed = completed.localCheckpoint(eager=True)
        done = completed if done is None else done.unionByName(completed)
        v = v.join(completed.select("id"), "id", "left_anti")
        e = (
            e.join(completed.select(F.col("id").alias("src")), "src", "left_anti")
            .join(completed.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
        )
        if delta:
            v_prev, e_prev = v, e
            v = v.localCheckpoint(eager=True)
            e = e.localCheckpoint(eager=True)
            # per-round `completed` checkpoints all survive (the
            # returned union reads them); only the shrinking remainder
            # frames are rolling scratch. First-round prev frames are
            # plain projections — release is a defensive no-op there.
            release_local_checkpoint(v_prev)
            release_local_checkpoint(e_prev)
        # in fixed mode the remainder frames stay lazy: `completed`
        # derives from the inner Pregel's own final checkpoint, so the
        # next round's lineage is one filter + two anti-joins deep —
        # nothing to truncate, and each skipped checkpoint is a job
        # saved (the 11-vertex fixture spends more on job scheduling
        # than on data)

    if done is None:
        # empty graph (delta mode breaks before the first fixpoint):
        # the component table is empty, same (id, scc) schema
        return graph.vertices.select(
            "id", F.col("id").alias("scc")
        ).limit(0)
    # the result reads only the per-round `completed` checkpoints
    release_local_checkpoint(v)
    release_local_checkpoint(e)
    return done


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
