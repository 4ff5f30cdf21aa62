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

``leaf_frame`` is the one py4j copy of a ``LogicalRDD`` leaf:
``plans.layout`` re-roots checkpoints with it to declare their layout.
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
    leaf = _logical_rdd(df.sparkSession).fromDataset(
        jdf.queryExecution().toRdd(), jdf, False
    )
    return leaf_frame(df.sparkSession, leaf)


def _logical_rdd(spark):
    """The ``LogicalRDD`` companion object, over py4j."""
    return getattr(
        getattr(spark._jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$"
    )


def leaf_frame(spark, leaf, partitioning=None, size_in_bytes: int | None = None) -> DataFrame:
    """A frame over a copy of the ``LogicalRDD`` ``leaf`` that declares
    ``partitioning`` (a py4j ``Partitioning`` over ``leaf``'s output;
    ``UnknownPartitioning`` when None) and no ordering. The copy keeps
    ``leaf``'s plan statistics and constraints, with its size replaced
    by ``size_in_bytes`` when given."""
    jvm = spark._jvm
    logical_rdd = _logical_rdd(spark)
    if partitioning is None:
        partitioning = getattr(logical_rdd, "$lessinit$greater$default$3")()
    session, stats, constraints = (leaf.otherCopyArgs().apply(i) for i in range(3))
    if size_in_bytes is not None and stats.isDefined():
        stats = jvm.scala.Some(_sized(spark, stats.get(), size_in_bytes))
    leaf = leaf.copy(
        leaf.output(),
        leaf.rdd(),
        partitioning,
        getattr(logical_rdd, "$lessinit$greater$default$4")(),  # no ordering
        False,
        leaf.stream(),
        session,
        stats,
        constraints,
    )
    return ClassicDataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, leaf), spark
    )


def _sized(spark, stats, nbytes: int):
    """The py4j ``Statistics`` ``stats`` with size ``nbytes`` and no row
    count. py4j hands a ``scala.math.BigInt`` to Python as an int, so a
    method handle builds it from a ``BigInteger`` on the JVM side."""
    jvm, new_array = spark._jvm, spark.sparkContext._gateway.new_array
    invoke, of = jvm.java.lang.invoke, jvm.java.lang.Class.forName

    def array(kind, *items):
        out = new_array(kind, len(items))
        for i, item in enumerate(items):
            out[i] = item
        return out

    lookup, big_int = invoke.MethodHandles.publicLookup(), of("scala.math.BigInt")
    method_type = invoke.MethodType.methodType
    to_big_int = lookup.findConstructor(
        big_int, method_type(jvm.java.lang.Void.TYPE, of("java.math.BigInteger"))
    )
    params = array(
        jvm.java.lang.Class,
        big_int,
        of("scala.Option"),
        stats.attributeStats().getClass(),
        jvm.java.lang.Boolean.TYPE,
    )
    copy = lookup.findVirtual(stats.getClass(), "copy", method_type(stats.getClass(), params))
    copy = invoke.MethodHandles.filterArguments(
        copy, 1, array(invoke.MethodHandle, to_big_int)
    )
    args = (stats, jvm.java.math.BigInteger.valueOf(nbytes), jvm.scala.Option.apply(None))
    return copy.invokeWithArguments(
        array(jvm.java.lang.Object, *args, stats.attributeStats(), stats.isRuntime())
    )
