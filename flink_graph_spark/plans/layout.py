"""Hash layouts the planner can see across a checkpoint, and the one rule
that sizes them.

Two frames joined or grouped on a key need no exchange when the planner
sees both hash-partitioned by that key into the same number of
partitions. Spark 4.1 under AQE hides a checkpoint's layout: a
``localCheckpoint`` leaf reports ``UnknownPartitioning(0)``, even over
``repartition(n, "id")``. Its origin frame still knows it: once the
checkpoint has run, the origin's final adaptive plan
(``executedPlan().executedPlan()``) reports ``hashpartitioning(id, n)``,
or ``coalescedhashpartitioning(...)`` for an exchange AQE coalesced.

``declare_layout`` re-roots a checkpoint on a ``LogicalRDD`` that
declares what that final plan reports, when it is a hash partitioning on
one column or a single partition (``repartition(1, key)`` is planned as
``SinglePartition``) and the checkpoint has that many partitions. It
declares nothing otherwise: the planner then adds its own exchanges,
which is slower but still right. A coalesced layout with n partitions
is not ``hash mod n``, so it is never declared, and neither is a count
of partitions alone.

A persisted ``repartition(n, key)`` frame (``REPARTITION_BY_NUM``, which
AQE never coalesces) reports its hash partitioning only once it is
materialized; a ``repartition(key)`` cache is coalesced and never does.

``layout_partitions`` sizes such a layout from measured bytes, never
from a plan estimate: the estimate of the customer–supplier edge join is
1.5 GB at a scale where its cache holds ~230 KB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .reuse import leaf_frame

#: optimized-plan leaves whose statistics are measured, not estimated
#: (a loaded cache, local rows, files), and the nodes above them whose
#: size Spark derives from their children without a guess
_MEASURED_LEAVES = ("InMemoryRelation", "LocalRelation", "LogicalRelation")
_SIZE_PRESERVING = ("Project", "Filter", "Union")


def final_plan(df: DataFrame):
    """The physical plan ``df`` runs: under AQE, the adaptive plan's
    current one (final once ``df`` has run)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan


def _hash_layout(plan, key: str | None = None) -> tuple[int | None, int] | None:
    """``(position, n)`` when ``plan`` reports ``hashpartitioning(c, n)``
    on its output column at ``position`` (on column ``key``, when
    given; a projection that keeps and renames a column reports a
    collection of both); ``(None, 1)`` for a single partition; None for
    any other partitioning."""
    out = plan.output()
    names = {
        out.apply(i).exprId().id(): (i, out.apply(i).name()) for i in range(out.size())
    }
    parts = [plan.outputPartitioning()]
    while parts:
        part = parts.pop(0)
        kind = part.getClass().getSimpleName()
        if kind == "SinglePartition$":
            return None, 1
        if kind == "PartitioningCollection":
            found = part.partitionings()
            parts += [found.apply(i) for i in range(found.size())]
        elif kind == "HashPartitioning" and part.expressions().size() == 1:
            col = part.expressions().apply(0)
            if col.getClass().getSimpleName() == "AttributeReference":
                pos, name = names.get(col.exprId().id(), (None, None))
                if pos is not None and key in (None, name):
                    return pos, part.numPartitions()
    return None


def partitions_by(df: DataFrame, key: str) -> int | None:
    """n when the planner sees ``df`` hash-partitioned by column ``key``
    into n partitions (1 for a single partition), else None. Plans
    ``df`` on the driver; launches no job."""
    layout = _hash_layout(final_plan(df), key)
    return None if layout is None else layout[1]


def stored_bytes(ckpt: DataFrame) -> int | None:
    """The bytes the block manager holds for the written checkpoint
    ``ckpt`` (memory plus disk), None until every partition is written."""
    rdd = ckpt._jdf.queryExecution().analyzed().rdd()
    sc = ckpt.sparkSession.sparkContext._jsc.sc()
    for info in sc.getRDDStorageInfo():
        if info.id() == rdd.id() and info.numCachedPartitions() == rdd.getNumPartitions():
            return info.memSize() + info.diskSize()
    return None


def declare_layout(
    ckpt: DataFrame, origin: DataFrame, key: str | None = None
) -> DataFrame:
    """``ckpt``, a ``localCheckpoint`` of ``origin``, re-rooted on a leaf
    that declares the layout ``origin``'s final plan reports (see the
    module docstring), with the checkpoint's stored size as its plan
    size once written (a superstep's estimate, a left join's product of
    its sides, grows without bound over a loop). ``ckpt`` itself when
    there is nothing to declare.

    A single partition is declared as ``hashpartitioning(key, 1)`` when
    ``key`` names a column (one partition is hash-partitioned by any
    column). The planner keeps two single-partition join sides together
    only while their estimates stay under
    ``spark.sql.maxSinglePartitionBytes``, and a join estimate is the
    product of its sides' sizes; two hash layouts into one partition are
    co-partitioned whatever their estimates."""
    leaf = ckpt._jdf.queryExecution().analyzed()
    if leaf.getClass().getSimpleName() != "LogicalRDD":
        return ckpt
    plan = final_plan(origin)
    layout = _hash_layout(plan, key)
    if layout is None or leaf.rdd().getNumPartitions() != layout[1]:
        return ckpt
    pos, n = layout
    if pos is None and key is not None:
        pos = ckpt.columns.index(key)
    part = plan.outputPartitioning()
    if pos is not None:
        physical = ckpt.sparkSession._jvm.org.apache.spark.sql.catalyst.plans.physical
        part = physical.HashPartitioning(leaf.output().slice(pos, pos + 1), n)
    return leaf_frame(ckpt.sparkSession, leaf, part, stored_bytes(ckpt))


def checkpoint(df: DataFrame, eager: bool = True, key: str | None = None) -> DataFrame:
    """``df.localCheckpoint(eager)`` with its layout declared
    (``declare_layout``; ``key`` names the column a single partition is
    declared hash-partitioned by).

    A lazy checkpoint still runs ``df``'s adaptive plan up to its last
    exchange at call time, so the final plan, and the layout it
    reports, is known here either way."""
    return declare_layout(df.localCheckpoint(eager=eager), df, key)


def lay_out(df: DataFrame, key: str, n: int, eager: bool = False) -> DataFrame:
    """``df`` hash-partitioned by ``key`` into ``n`` partitions, as a
    checkpoint that declares it."""
    return checkpoint(df.repartition(n, key), eager, key)


def measured_bytes(df: DataFrame) -> int | None:
    """``df``'s plan size when it is measured: every leaf of the
    optimized plan is a loaded cache, local rows or files, under
    projections, filters and unions only. None otherwise."""
    plan = df._jdf.queryExecution().optimizedPlan()
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        kind = node.getClass().getSimpleName()
        if kind == "InMemoryRelation":
            if not node.cacheBuilder().isCachedColumnBuffersLoaded():
                return None
        elif kind not in _MEASURED_LEAVES and kind not in _SIZE_PRESERVING:
            return None
        children = node.children()
        nodes += [children.apply(i) for i in range(children.size())]
    return int(plan.stats().sizeInBytes())


def layout_partitions(spark, nbytes: int) -> int:
    """The partition count of a layout over ``nbytes`` measured bytes,
    from the session's AQE confs: ``max(1, ceil(bytes / advisory
    partition size), min(default parallelism, bytes // min partition
    size))``, the count AQE's own coalescing would aim at."""
    conf = spark._jsparkSession.sessionState().conf()
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    advisory = to_bytes(
        conf.getConfString("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    )
    floor = to_bytes(
        conf.getConfString("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    )
    return max(
        1,
        -(-nbytes // advisory),
        min(spark.sparkContext.defaultParallelism, nbytes // floor),
    )
