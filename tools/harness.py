"""Session set-up shared by the timing harnesses: ``bench.py``,
``tools/job_census.py`` and ``tools/scale_sweep.py``.

``warm_up`` pays the one-time costs before anything is measured, so a
timed query pays only its own: the table scans, the persisted graph
builder caches, the Python worker pool and the first run of the text
kernels. ``sched_probe_ms`` reads the
box's scheduler floor, so an artifact says whether its absolute numbers
are comparable to quiet-box records.
"""

from __future__ import annotations

import time

from flink_graph_spark.registry import SPARK_QUERIES
from flink_graph_spark.sources.graphs import (
    customer_supplier_graph,
    customer_supplier_undirected_graph,
    part_copurchase_graph,
    user_cooccurrence_graph,
)
from flink_graph_spark.sources.tables import load_tables

#: Every memoized graph builder whose persisted edges and vertices the
#: registered graph queries read.
GRAPH_BUILDERS = (
    customer_supplier_graph,
    customer_supplier_undirected_graph,
    part_copurchase_graph,
    user_cooccurrence_graph,
)


#: The registered ``functions/`` query ``warm_up`` runs once. The first
#: run of the shingling and min-hash kernels pays their code generation
#: and JIT warm-up: without it a census's first ``dedup_minhash_lsh`` row
#: read about twice the executor CPU of its second (sf0.1, ``local[4]``).
WARM_QUERY = "minhash_calibration"


def warm_up(spark, sf_dir: str, builders=GRAPH_BUILDERS) -> None:
    """Count every table at ``sf_dir``, materialize the edges and
    vertices of each of ``builders``, start the Python/Arrow worker pool
    once (the first Pandas-UDF stage otherwise pays daemon + worker fork
    + Arrow init inside its timing window) and run ``WARM_QUERY``."""
    for df in load_tables(spark, sf_dir).values():
        df.count()
    for builder in builders:
        g = builder(spark, sf_dir)
        g.edges.count()
        g.vertices.count()
    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    SPARK_QUERIES[WARM_QUERY](spark, sf_dir).write.format("noop").mode("overwrite").save()


def sched_probe_ms(spark) -> float:
    """Box-health probe: ms/job for a trivial 32-task no-op job (median
    of 9). A healthy local[32] box measures tens of ms; the host-side
    vCPU-latency degradation documented in BASELINE.md
    §Round-4-second-sitting measured ~350 ms and inflates every
    scheduler-bound (iterative) query 3-10x while map-heavy scans barely
    move."""
    sc = spark.sparkContext
    samples = []
    for _ in range(9):
        t0 = time.time()
        sc.parallelize(range(32), 32).count()
        samples.append((time.time() - t0) * 1000)
    samples.sort()
    return round(samples[len(samples) // 2], 1)
