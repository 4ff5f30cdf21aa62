"""End-to-end skew hardening (r3 verdict item 6).

These tests prove the AQE skew-join escape hatch actually fires inside
this engine's session config (the claim SCALING.md §7 makes about the
100 TB posture), that Pregel loops do not accrete cached blocks over a
long session, and that duplicate edge rows cannot inflate the
wedge-based scores.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_graph_spark.library.jaccard import jaccard_similarity


def test_aqe_skew_join_fires_on_hub_key(spark):
    """With the engine's session (AQE on), a shuffle join whose left
    side concentrates ~all rows on one key gets its skewed partition
    split at runtime — the executed plan carries the skew marker. The
    size thresholds are lowered to make a test-scale partition count
    as 'skewed'; production uses Spark defaults, the MECHANISM is what
    this test pins."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 60_000
        fact = spark.range(n).select(
            # 95% of rows land on key 7; the rest spread over 1000 keys
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("v"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("dim_"), F.col("id")).alias("d"),
        )
        joined = fact.join(dim, "k")
        # drive THIS DataFrame's own QueryExecution to completion —
        # count()/noop-write build a separate QueryExecution, leaving
        # this one's AQE plan unfinalized (isFinalPlan=false)
        assert len(joined.collect()) == n
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.slow
def test_pregel_soak_no_cache_growth(spark):
    """Lineage/driver-memory soak (r3 verdict item 6b): the three big
    Pregel consumers run back-to-back repeatedly in ONE session; the
    persistent-RDD census after each sweep must return to the baseline
    — proving the localCheckpoint cadence + unpersist discipline holds
    over a long gate session instead of accreting blocks."""
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    queries = entrymod.queries()
    names = ("pagerank_cs", "cc_cs", "sssp_cs")
    jsc = spark.sparkContext._jsc

    def rdd_ids() -> set[int]:
        import gc

        gc.collect()  # free py4j refs so JVM-side blocks can drop
        it = jsc.sc().getPersistentRDDs().toList().iterator()
        out = set()
        while it.hasNext():
            out.add(int(it.next()._1()))
        return out

    def sweep_once():
        for name in names:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    # Sweep 0 warms the memoized graph caches (intentional keep-alive)
    # and leaves the first rolling residuals; everything persisted at
    # this point — including unrelated blocks lingering from earlier
    # tests in a shared session — is AMBIENT. RDD ids are monotonic,
    # so "created by the soak" is exactly "id > id0": ambient blocks
    # clearing mid-run (shared-session churn) can't move the count.
    sweep_once()
    id0 = max(rdd_ids(), default=0)
    counts = []
    for sweep in range(9):
        sweep_once()
        counts.append(len({i for i in rdd_ids() if i > id0}))
    # Pregel releases superseded checkpoints explicitly
    # (plans/checkpoints.py), so per sweep only the ~3 final-state
    # result blocks linger (displaced when the same query next runs —
    # lazy py4j GC never reclaims them unprompted, measured in r4).
    # A real accretion bug (r2 measured ~5+ blocks/sweep) reaches
    # ~45 new blocks by the last sweep and fails both bounds.
    assert max(counts) <= 15, counts
    assert counts[-1] <= 8, counts


def test_multigraph_duplicate_edges_do_not_double_scores(spark):
    """Duplicate edge rows must not inflate wedge-count scores: Jaccard
    and Adamic-Adar score each DISTINCT edge once (dup rows re-emit the
    same value). Found via the RMat multigraph: a doubled `common` once
    overflowed inclusion-exclusion into a zero (then negative)
    denominator."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.adamic_adar import adamic_adar

    base = [(1, 2), (2, 3), (1, 3), (3, 4)]
    dup = spark.createDataFrame(base + base, "src long, dst long")
    ded = spark.createDataFrame(base, "src long, dst long")
    g_dup = Graph.from_edges(dup.withColumn("value", F.lit(1)))
    g_ded = Graph.from_edges(ded.withColumn("value", F.lit(1)))

    for fn in (jaccard_similarity, adamic_adar):
        want = {(r[0], r[1]): r[2] for r in fn(g_ded).collect()}
        got = {(r[0], r[1]): r[2] for r in fn(g_dup).collect()}
        assert got == want, fn.__name__


def test_multigraph_duplicate_edges_triangle_family(spark):
    """The triangle family (count / per-vertex / clustering coeff /
    edge support) enumerates over the DISTINCT edge set: a duplicated
    canonical edge row must not multiply wedge paths or skew the
    orientation degrees. edge_support re-emits one row per ORIGINAL
    edge row (same re-emit contract as jaccard), with identical
    support values."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.triangles import (
        clustering_coefficient,
        edge_support,
        triangle_count,
        triangles_per_vertex,
    )

    base = [(1, 2), (2, 3), (1, 3), (3, 4)]  # canonical src<dst
    dup = spark.createDataFrame(base + base, "src long, dst long")
    ded = spark.createDataFrame(base, "src long, dst long")
    g_dup = Graph.from_edges(dup.withColumn("value", F.lit(1)))
    g_ded = Graph.from_edges(ded.withColumn("value", F.lit(1)))

    assert triangle_count(g_dup).collect()[0][0] == 1
    assert triangle_count(g_ded).collect()[0][0] == 1
    for fn in (triangles_per_vertex, clustering_coefficient):
        want = {tuple(r) for r in fn(g_ded).collect()}
        got = {tuple(r) for r in fn(g_dup).collect()}
        assert got == want, fn.__name__
    # support values identical; dup rows re-emit (2x row count)
    want = sorted(tuple(r) for r in edge_support(g_ded).collect())
    got = sorted(tuple(r) for r in edge_support(g_dup).collect())
    assert got == sorted(want + want)
