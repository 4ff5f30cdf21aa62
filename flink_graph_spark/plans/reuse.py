"""One scan leaf for a frame that a plan reads from a cache more than once.

AQE turns the second of two identical exchanges into a ``ReusedExchange``
only when their canonical plans compare equal. On Spark 4.1 two
exchanges over the same persisted frame never do: AQE wraps every scan
of a cache in its own ``TableCacheQueryStageExec``, that class does not
override ``doCanonicalize``, and its product fields are ``(id, plan)``,
so the stage id is part of the canonical form. A frame derived from a
builder cache that feeds both sides of a join (the adjacency of
Jaccard, the vertex side of ``Graph.triplets``, the id set of a
subgraph) is then shuffled or broadcast once per side.

``reuse_leaf`` re-roots such a frame on one ``LogicalRDD`` over the RDD
of its executed plan, the leaf ``Dataset.localCheckpoint`` builds, but
without the checkpoint's block copy. Both consumers read that one leaf,
their exchanges compare equal, and AQE runs the exchange once. The leaf
keeps the frame's plan statistics, so a small side still broadcasts.

Like a lazy ``localCheckpoint``, the call executes the frame's own
adaptive plan up to its last exchange, so a frame with a shuffle of its
own (the Jaccard adjacency) runs that shuffle's map stage as one job at
call time. A frame that reads no cache is returned unchanged, still
lazy: the cache stage is the cause this module removes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


def _reads_cache(df: DataFrame) -> bool:
    """True when ``df``'s plan scans a persisted frame."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves().iterator()
    while leaves.hasNext():
        if leaves.next().getClass().getSimpleName() == "InMemoryRelation":
            return True
    return False


def reuse_leaf(df: DataFrame) -> DataFrame:
    """``df`` re-rooted on one ``LogicalRDD`` over the RDD of its executed
    plan, with ``df``'s plan statistics and constraints, when ``df``
    reads a cache (see the module docstring); ``df`` itself otherwise,
    and always for a streaming frame, which cannot be cached.

    The leaf declares no output partitioning or ordering. Spark
    canonicalizes a leaf's partitioning and ordering with their raw
    exprIds, and the second read of a leaf in one plan gets fresh ones,
    so a leaf that declared, say, the range partitioning of its source
    would still give two exchanges that never compare equal."""
    if df.isStreaming or not _reads_cache(df):
        return df
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    logical_rdd = getattr(getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$")
    leaf = logical_rdd.fromDataset(jdf.queryExecution().toRdd(), jdf, False)
    session, stats, constraints = (leaf.otherCopyArgs().apply(i) for i in range(3))
    leaf = leaf.copy(
        leaf.output(),
        leaf.rdd(),
        getattr(logical_rdd, "$lessinit$greater$default$3")(),  # UnknownPartitioning
        getattr(logical_rdd, "$lessinit$greater$default$4")(),  # no ordering
        False,
        leaf.stream(),
        session,
        stats,
        constraints,
    )
    return ClassicDataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, leaf),
        df.sparkSession,
    )

