"""SparkSession factory tuned for the engine.

Scale posture (SURVEY.md §4.2): AQE on (runtime re-planning, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity with
DuckDB), Arrow enabled for the few pandas-UDF paths, shuffle partitions
sized to the local core count (on a real cluster this would be
~2-3x total executor cores; AQE coalesces down as needed).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# RAM left outside the driver heap when it is sized from the machine:
# local-mode Python workers, Arrow and Netty off-heap buffers, the OS
# page cache that shuffle files go through
_DRIVER_MEM_HEADROOM_MB = 8 * 1024
_DRIVER_MEM_MAX_MB = 48 * 1024


def _default_driver_memory() -> str:
    """Driver heap for ``get_spark`` when ``SPARK_GRAFT_DRIVER_MEM`` is
    unset: physical RAM minus a fixed headroom, between 1g and 48g.

    In local mode the driver JVM is the only executor. Machines with at
    least 56 GB keep the 48g heap (room for the ~35 GB live set noted in
    ``get_spark``); smaller ones get every byte but the headroom instead
    of a heap larger than the machine."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, ValueError, OSError):
        return "4g"
    heap_mb = min(_DRIVER_MEM_MAX_MB, ram_mb - _DRIVER_MEM_HEADROOM_MB)
    return f"{max(1024, heap_mb)}m"


def get_spark(
    app_name: str = "flink-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE starts shuffles at 8x the core count and coalesces DOWN
        # from runtime stats: small stages end up at the same handful of
        # tasks as before, while a hundred-million-row intermediate gets
        # partitions that fit in memory instead of 15M-row tasks that
        # thrash the heap. Measured on a 492M-row wedge shuffle (12M-edge
        # dense graph triangle count, 10x scale point): 256 initial
        # partitions ran 67-72s across sessions and arm orders, 32 ran
        # 39-114s warm with 330-630s first-run catastrophes — stability
        # beats the one fast sample. Non-AQE plans still use
        # spark.sql.shuffle.partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(256, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r9 (guide §2.4/§2.2): AQE may re-plan the output partitioning
        # of plans that get persist()ed. Spark's default (false) pins
        # every cached frame at the PRE-coalesce partition count — the
        # builders' repartition("src").persist() edge tables therefore
        # materialized at initialPartitionNum (256) partitions at EVERY
        # scale, and each of a query's downstream stages over the cache
        # (every Pregel superstep's message join, every degree agg) ran
        # 256 near-empty tasks at bench scale: pure scheduler overhead
        # (measured: cs/uu/pc caches 256p at sf0.1; pagerank_cs 27.7s →
        # 7.5s, ppr_cs 12.1s → 3.6s with the flag + the floor below).
        # At 100 TB cached partitions are ≥ the advisory size, AQE
        # leaves them alone, and the src-hash posture is unchanged —
        # the setting is scale-adaptive by construction.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Companion floor: AQE's parallelism-first coalescing targets
        # max(bytes/defaultParallelism, minPartitionSize). The 1 MB
        # default floor coalesced the sf0.1 pc-graph cache to 11
        # partitions — fewer than the 32 cores — and compute-heavy
        # downstream stages (array_intersect attaches, the AA credit
        # explode whose OUTPUT is ~10-50x its input bytes) serialized
        # on them (adamic_adar_pc 15.0s → 100.0s with the flag alone;
        # 10.9s with this floor restoring ≥core-count parallelism
        # whenever a stage carries ≥ cores×256 KiB). Scale-adaptive:
        # above ~8 MB per shuffle the bytes/parallelism term dominates
        # and the floor is inert.
        # SCOPE (ADVICE r9): this is a GLOBAL AQE knob — it lowers the
        # coalesce floor for EVERY adaptive shuffle read, not only
        # cached plans (the full 194-query oracle gate re-ran green
        # under it, so the blanket effect is covered empirically). The
        # analysis above assumes coalescePartitions.parallelismFirst =
        # true (the Spark default); a deployment flipping that to
        # size-first coalescing makes advisoryPartitionSizeInBytes,
        # not this floor, govern — re-measure adamic_adar_pc if so.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # GC/stall survivability: a shuffle-heavy query over a hundred-
        # million-row intermediate can hold a ~35 GB live set (measured:
        # triangle counting on a 12M-edge dense graph), and a multi-
        # second GC train or a host-side stall then trips the default
        # 120s heartbeat timeout — the executor exits and takes the
        # whole local session down mid-query. Raising the network
        # timeout is the documented Spark remedy for heavy-GC workloads;
        # it only delays DETECTION of a truly-dead peer, which in
        # local[n] (driver == executor) detects nothing useful anyway.
        .config("spark.network.timeout", "600s")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-provided session.

    The driver hands us its own SparkSession for ``entry``/``queries``;
    these settings are required for oracle parity (UTC timestamps) and
    for sane shuffle behavior on local mode.

    ORDERING CONTRACT (ADVICE r9):
    ``canChangeCachedPlanOutputPartitioning`` is consulted when a plan
    is CACHED, so this must run before any ``persist()``/``cache()``
    whose partitioning AQE should be allowed to re-plan — frames
    persisted earlier in the session keep their pinned partitioning.
    The registry wrapper (``registry._query_begin``) calls it before
    every registered query body, so no graph builder persists anything
    first; a caller that persists outside a registered query calls it
    first too.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # some driver rounds ship events.parquet as TIMESTAMP(NANOS), which
    # Spark's vectorized reader otherwise rejects; with this set it reads
    # as long nanos and the loaders normalize by actual unit (harmless
    # when the file is timestamp[us], as in round 2)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # see get_spark: big-shuffle stability; AQE coalesces small stages
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "32") or 32)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        str(max(256, cur)),
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # see get_spark: cached-plan AQE coalescing + parallelism floor (r9)
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k"
    )
    return spark
