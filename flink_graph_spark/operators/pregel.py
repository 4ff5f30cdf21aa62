"""Driver-orchestrated Pregel loop — the one piece of machinery Spark
lacks natively (SURVEY.md §4.3).

Reference: Graph.runVertexCentricIteration (Graph.java ~L895-930)
delegating to flink-spargel's VertexCentricIteration (a Flink delta
iteration of two coGroups). Spark has no in-dataflow iteration, so the
superstep loop lives in the Python driver. Each superstep is the
reference's coGroup of messages with vertex state, written as ONE
grouping: the frontier⋈edges join emits raw message rows, which are
unioned with the state rows and grouped by id once, carrying the state
and aggregating the inbox in the same aggregate. A superstep thus
costs one exchange, not a message exchange plus an update join.

Scale design:
* Edges are persisted once (caller may pre-partition by src via
  ``Graph.partition_by_src``) so the loop-invariant side is never
  rescanned from parquet. The planner does not see that partitioning
  (see the comment above the ``partition_by_src`` call in ``pregel``),
  so each superstep's message join still broadcasts or shuffles one of
  its sides.
* The superstep loop is ``operators.iterate.iterate``, which owns the
  checkpoint, its release and the convergence count. Every superstep
  ends in an eager checkpoint (cadence 1 in the kernel's table): the
  next superstep reads the state twice (the message join and the
  grouping's state rows) with different column pruning, so a lazy
  chain of k supersteps would recompute the oldest one ~2^k times.
* Convergence (optional) is the kernel's ``changed`` count, an
  observed metric on the checkpoint job, so a superstep is the
  frontier broadcast, the grouping's map stage and the checkpoint job:
  no separate count job, never a collect of the state.
* No per-row Python: message/update expressions are Spark Columns, so
  every superstep stays inside whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..graph import Graph
from .iterate import iterate


@dataclass
class PregelResult:
    vertices: DataFrame  # (id, <state_col>)
    iterations: int
    converged: bool
    #: the loop's last checkpoint, which ``vertices`` reads: a caller
    #: that consumes ``vertices`` inside a longer loop releases it
    checkpoint: DataFrame


def _carry_state(state_col: str, dtype: T.DataType) -> tuple[list[Column], Column]:
    """The aggregates carrying each id's one state row through the
    superstep grouping (every other row of the id is a message with a
    NULL state), and the Column rebuilding the state from them.

    A struct state (PageRank's (rank, od), SCC's (f, b)) is carried
    field by field, its own NULL riding as bit 4 of the state row's
    ``__tag``: an aggregation buffer holding a whole struct is not
    fixed-width, which turns the grouping, message rows included, from
    a hash into a sort aggregate (pagerank_cs at sf0.1 on ``local[4]``:
    ~3x the executor time). Any other state is carried whole.
    """
    if not isinstance(dtype, T.StructType):
        return [F.any_value(state_col, ignoreNulls=True).alias(state_col)], F.col(state_col)
    parts = [f"__carry{i}" for i in range(len(dtype.fields))]
    carry = [
        F.any_value(F.col(state_col).getField(f.name), ignoreNulls=True).alias(p)
        for f, p in zip(dtype.fields, parts)
    ]
    rebuilt = F.when(
        F.col("__tag").bitwiseAND(4) == 0,
        F.struct(*[F.col(p).alias(f.name) for f, p in zip(dtype.fields, parts)]),
    )
    return carry, rebuilt


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
                       the source. Null messages are dropped by the agg.
    ``agg``          — aggregate Column over ``__msg`` (must alias to
                       ``__agg``), e.g. ``F.min("__msg").alias("__agg")``.
                       It must ignore NULL ``__msg``: the loop groups the
                       state rows together with the messages, each state
                       row carrying a NULL message.
    ``update``       — Column over (``id``, ``<state_col>``, ``__agg``)
                       → new state. ``__agg`` is null for every vertex
                       that received no non-null message (an empty
                       inbox, or one holding only null messages).

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
    # Persist the loop-invariant edges (repartitioned by src) once, so
    # no superstep re-derives them. The src partitioning is not visible
    # to the planner: with canChangeCachedPlanOutputPartitioning=true
    # (plans.session) a cached frame reports UnknownPartitioning, so the
    # message join broadcasts or shuffles a side every superstep. On the
    # benchmark's cs_und graph (19.2k edges, ~1.5 MB) every cc_cs
    # superstep after the first broadcasts the whole edge table
    # (BroadcastHashJoin BuildLeft over its TableCacheQueryStage): the
    # checkpointed state's size estimate is the larger one. Graphs whose
    # edge table is already src-partitioned + cached (the builder
    # posture) are used as-is — their cache is shared across queries,
    # so this loop must not evict it on exit.
    owns_edge_cache = not graph.src_partitioned
    if owns_edge_cache:
        graph = graph.partition_by_src()
    edges = graph.edges
    # LAZY checkpoint of the initial state: the first superstep's first
    # read writes its blocks, so a caller's uncached vertex frame
    # (incremental SSSP's join, an SCC peel round) is computed once, not
    # once per read in superstep 1. Over a frame with no exchange it
    # costs no job of its own; over one with an exchange, AQE runs that
    # exchange's stage as a job here, at call time
    v0 = graph.vertices.select("id", initial.alias(state_col)).localCheckpoint(eager=False)
    changed_col = ~F.col(state_col).eqNullSafe(F.col("__old"))

    def superstep(cur: DataFrame, it: int) -> DataFrame:
        v = cur.select("id", state_col)
        active = None
        if delta:
            active = v if it == 1 else cur.filter(changed_col).select("id", state_col)
        msgs = graph.aggregate_messages(
            None,
            msg_to_dst=msg_to_dst,
            msg_to_src=msg_to_src,
            vertices=v,
            active=active,
            msg_to_dst_reads=msg_to_dst_reads,
            msg_to_src_reads=msg_to_src_reads,
        )
        # The update join folded into the message grouping: state rows
        # tag 1 (plus 4 for a NULL state), non-null message rows tag 2,
        # one groupBy("id") carrying the state (exactly one state row
        # per id), aggregating the inbox (the state rows' NULL __msg is
        # dropped by the agg, per the contract above) and OR-ing the
        # tags. Bit 1 keeps real vertices only — messages to ids outside
        # the vertex frame drop, as under the old left join — and bit 2
        # marks a non-empty inbox, so an empty one still yields a NULL
        # __agg even for aggregates that never return NULL themselves
        # (struct(min, min)).
        carry, state = _carry_state(state_col, v.schema[state_col].dataType)
        folded = (
            v.select(
                "id",
                state_col,
                F.when(F.col(state_col).isNull(), 5).otherwise(1).alias("__tag"),
            )
            .unionByName(
                # tag by projection, not a NULL filter: Catalyst would
                # push isnotnull(<message expr>) below the join, onto
                # vertices that send nothing (PageRank's rank / outdeg
                # then divides by zero for sinks under ANSI mode)
                msgs.select(
                    "id", "__msg", F.when(F.col("__msg").isNotNull(), 2).alias("__tag")
                ),
                allowMissingColumns=True,
            )
            .groupBy("id")
            .agg(*carry, agg, F.bit_or("__tag").alias("__tag"))
            .where(F.col("__tag").bitwiseAND(1) == 1)
            .select(
                "id",
                state.alias(state_col),
                F.when(F.col("__tag").bitwiseAND(2) == 2, F.col("__agg")).alias("__agg"),
            )
        )
        return folded.select("id", update.alias(state_col), F.col(state_col).alias("__old"))

    # with delta, the changed rows are also next superstep's frontier
    # (an empty one ends the loop)
    v, it, converged = iterate(
        v0, superstep, max_iter, changed=changed_col if delta else None
    )
    if owns_edge_cache:
        edges.unpersist()
    return PregelResult(
        vertices=v.select("id", state_col),
        iterations=it,
        converged=converged,
        checkpoint=v,
    )
