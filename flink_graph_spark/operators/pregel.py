"""Driver-orchestrated Pregel loop — the one piece of machinery Spark
lacks natively (SURVEY.md §4.3).

Reference: Graph.runVertexCentricIteration (Graph.java ~L895-930)
delegating to flink-spargel's VertexCentricIteration (a Flink delta
iteration of two coGroups). Spark has no in-dataflow iteration, so the
superstep loop lives in the Python driver.

A superstep is a pull over a co-partitioned layout, as GraphX
(OSDI'14) co-partitions its vertex and edge views: the edges are
hash-partitioned by the vertex their messages go to (``dst`` for
``msg_to_dst``, ``src`` for ``msg_to_src``) and the state by ``id``,
into the same n partitions, and the planner sees both layouts
(``plans.layout``). A superstep

1. broadcasts the frontier (``delta``) or the state;
2. joins it to the edges where they are stored;
3. aggregates the messages by owner: they sit in their owner's
   partition already, so the grouping needs no exchange;
4. left-joins the inbox to the state with a ``shuffle_hash`` hint: the
   two sides are co-partitioned, so again no exchange.

It runs the broadcast job and the checkpoint job and shuffles nothing.
sf0.1, ``local[4]`` (``tools/job_census.py``): ``cc_cs`` 16 → 11 jobs
and 3,186 KB → 0 of shuffle, ``pagerank_cs`` 33 → 26 jobs for 10
supersteps, against the earlier fold of messages and state rows into one
grouping exchange per superstep.

Scale design:
* Layout. A graph laid out already (the ``cs_und`` builder: edges by
  dst, vertices by id, both counted) is used as it is. Otherwise each
  call lays out the edges and the initial state once, as checkpoints
  that declare their layout, freed at return by ``scratch_scope``: one
  shuffle of the edges per message direction and one of the state, the
  one-time cost of the call (``pagerank_cs``: 2.3 MB of shuffle, the
  edge table by dst). n comes from ``plans.layout.layout_partitions``
  over the measured bytes of the edges.
* Broadcast. The state side is hinted only when its size is at most
  ``autoBroadcastJoinThreshold``; each checkpoint leaf reports its
  stored size, so the hint follows the state, not a join estimate.
  Above it the planner plans the join with its own exchanges, AQE
  coalesces them, the checkpoint declares no layout, and every later
  superstep shuffles: correct, slower. A pull through routing tables
  (GraphX's) for states that large is future work.
* The loop is ``operators.iterate.iterate``, which owns the checkpoint,
  its layout, its release and the convergence count. Every superstep
  ends in an eager checkpoint (cadence 1 in the kernel's table): the
  next superstep reads the state twice (the broadcast side and the
  update join), so a lazy chain of k supersteps would recompute the
  oldest one ~2^k times.
* Convergence (optional) is the kernel's ``changed`` count, an observed
  metric on the checkpoint job: no separate count job, never a collect
  of the state.
* No per-row Python: message/update expressions are Spark Columns, so
  every superstep stays inside whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoints import scratch_scope
from ..plans.layout import (
    checkpoint,
    lay_out,
    layout_partitions,
    measured_bytes,
    partitions_by,
    stored_bytes,
)
from .iterate import iterate


class PregelResult(NamedTuple):
    vertices: DataFrame  # (id, <state_col>)
    iterations: int
    converged: bool
    #: the loop's last checkpoint, which ``vertices`` reads: a caller
    #: that consumes ``vertices`` inside a longer loop releases it
    checkpoint: DataFrame


def _owner_layout(
    graph: Graph, owners: list[str], v0: DataFrame
) -> tuple[dict[str, DataFrame], DataFrame]:
    """The edges hash-partitioned by each message owner and the initial
    state by ``id``, all into one partition count n the planner sees.

    A layout the graph already has is used as it is: its n wins. The
    rest are laid out here, once per call, as checkpoints declaring
    their layout (``plans.layout``): the edges lazily (their exchange's
    map stage runs now, their blocks are written by superstep 1) and
    the state eagerly, so superstep 1 sees its stored size, not a join
    estimate. Without a layout, n comes from the measured bytes of the
    edges: their plan size when their leaves are materialized, else the
    stored size of a checkpoint of them."""
    edges = graph.edges
    found = {o: partitions_by(edges, o) for o in owners}
    n = next((k for k in found.values() if k is not None), None)
    if n is None:
        nbytes = measured_bytes(edges)
        if nbytes is None:
            edges = edges.localCheckpoint(eager=True)
            nbytes = stored_bytes(edges) or 0
        n = layout_partitions(edges.sparkSession, nbytes)
    laid = {
        o: graph.edges if k == n else lay_out(edges, o, n) for o, k in found.items()
    }
    if partitions_by(v0, "id") == n:
        return laid, checkpoint(v0, eager=False, key="id")
    return laid, lay_out(v0, "id", n, eager=True)


@scratch_scope
def pregel(
    graph: Graph,
    initial: Column,
    agg: Column,
    update: Column,
    msg_to_dst: Column | None = None,
    msg_to_src: Column | None = None,
    max_iter: int = 10,
    state_col: str = "state",
    delta: bool = False,
    msg_to_dst_reads: tuple[str, ...] | None = None,
    msg_to_src_reads: tuple[str, ...] | None = None,
) -> PregelResult:
    """Run a vertex-centric iteration.

    ``initial``      — Column over the vertex row → initial state.
    ``msg_to_dst``   — Column over the triplet (``src``, ``dst``, edge
                       value cols, ``src_<state_col>``, ``dst_<state_col>``)
                       sent to the edge target; ``msg_to_src`` likewise to
                       the source.
    ``agg``          — aggregate Column over ``__msg`` (must alias to
                       ``__agg``), e.g. ``F.min("__msg").alias("__agg")``.
                       It must ignore NULL ``__msg``: a null message is
                       no message.
    ``update``       — Column over (``id``, ``<state_col>``, ``__agg``)
                       → new state. ``__agg`` is null for every vertex
                       that received no non-null message (an empty
                       inbox, or one holding only null messages).
                       Messages to ids outside the vertex frame drop.

    Without ``delta`` the loop runs ``max_iter`` fixed supersteps (the
    oracle-parity mode).

    ``delta=True`` enables Spargel's workset semantics (the reference's
    actual model: only vertices UPDATED last superstep send messages).
    Valid for idempotent kernels (min/max propagation — SSSP, CC) where
    re-sending an unchanged state is redundant: results are identical to
    full propagation at any iteration count, but converged regions stop
    costing anything, and the loop exits early once no vertex state
    changed (exact equality, null-safe), which empties the frontier
    (safe even in fixed-iteration oracle mode — no state can change
    with an empty workset). NOT valid for PageRank-style sums,
    which need every contribution every superstep.
    """
    sides = [
        (owner, msg, reads)
        for owner, msg, reads in (
            ("dst", msg_to_dst, msg_to_dst_reads),
            ("src", msg_to_src, msg_to_src_reads),
        )
        if msg is not None
    ]
    if not sides:
        raise ValueError("need msg_to_dst and/or msg_to_src")
    edges, v0 = _owner_layout(
        graph,
        [owner for owner, _, _ in sides],
        graph.vertices.select("id", initial.alias(state_col)),
    )
    views = {owner: Graph(v0, e) for owner, e in edges.items()}
    conf = v0.sparkSession._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    changed_col = ~F.col(state_col).eqNullSafe(F.col("__old"))
    old = [F.col(state_col).alias("__old")] if delta else []

    def ship(side: DataFrame) -> DataFrame:
        # the state side goes to the edges, which stay where they are
        # stored; above the threshold the planner plans the join
        size = side._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return F.broadcast(side) if 0 <= size <= threshold else side

    def superstep(cur: DataFrame, it: int) -> DataFrame:
        v = cur.select("id", state_col)
        active = None
        if delta:
            active = ship(v if it == 1 else cur.filter(changed_col).select("id", state_col))
        shipped = ship(v)
        msgs = reduce(
            DataFrame.unionByName,
            [
                views[owner].aggregate_messages(
                    None,
                    vertices=shipped,
                    active=active,
                    **{f"msg_to_{owner}": msg, f"msg_to_{owner}_reads": reads},
                )
                for owner, msg, reads in sides
            ],
        )
        # each message sits in its owner's partition already, so the
        # grouping and the co-partitioned update join need no exchange.
        # count(__msg) keeps an empty or all-NULL inbox NULL even for
        # aggregates that never return NULL themselves (struct(min, min))
        inbox = (
            msgs.groupBy("id")
            .agg(agg, F.count("__msg").alias("__n"))
            .select("id", F.when(F.col("__n") > 0, F.col("__agg")).alias("__agg"))
        )
        return v.join(inbox.hint("shuffle_hash"), "id", "left").select(
            "id", update.alias(state_col), *old
        )

    # with delta, the changed rows are also next superstep's frontier
    # (an empty one ends the loop)
    v, it, converged = iterate(
        v0, superstep, max_iter, changed=changed_col if delta else None
    )
    return PregelResult(
        vertices=v.select("id", state_col),
        iterations=it,
        converged=converged,
        checkpoint=v,
    )
