"""Per-query driver-round-trip census: jobs / stages / tasks / wall.

On a box whose scheduler probe reads 300-900 ms per no-op job (healthy
floor: tens of ms — BASELINE.md), every Spark job a query launches
costs ~0.5 s of pure driver-barrier latency before any data moves, so
at bench scale (sf0.1 tables are KB-MB) wall time is dominated by JOB
COUNT, not bytes. This tool measures that directly — counting, like
tools/simhash_census.py, so it is scheduler-noise-insensitive — and is
the measurement behind the r10 "fewer, larger jobs" changes
(guide §2.2/§2.6: driver barriers are the local-mode analogue of
scheduler round-trips).

Usage: python tools/job_census.py SF_DIR query [query ...]
Prints one JSON line per query:
  {"query": q, "wall_s": w, "jobs": j, "stages": s, "tasks": t,
   "skipped_stages": k, "skipped_tasks": kt, "shuffle_bytes": b}
``stages`` and ``tasks`` count every stage of every job, skipped ones
(whose shuffle output an earlier job already wrote) included; the
``skipped_`` fields are that part. ``shuffle_bytes`` is the shuffle
write of the stages that ran.

Methodology matches bench.py: tables + derived-graph caches warmed
outside the census, Python worker pool pre-spun, noop-sink execution,
scratch evicted between queries. Run each query under its own job
group; stages/tasks summed over the group's jobs via statusTracker.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from flink_graph_spark import registry  # noqa: E402
from flink_graph_spark.plans.session import get_spark, tune_session  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

registry.EXTERNAL_JVM_GC = True


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    spark = get_spark("job-census")
    tune_session(spark)

    from flink_graph_spark.sources.graphs import (
        customer_supplier_graph,
        customer_supplier_undirected_graph,
        part_copurchase_graph,
        user_cooccurrence_graph,
    )
    from flink_graph_spark.sources.tables import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()
    for builder in (
        customer_supplier_graph,
        customer_supplier_undirected_graph,
        part_copurchase_graph,
        user_cooccurrence_graph,
    ):
        g = builder(spark, sf_dir)
        g.edges.count()
        g.vertices.count()
    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    queries = entrymod.queries()
    sc = spark.sparkContext
    jsc = sc._jsc
    keep_ids = set(jsc.getPersistentRDDs().keySet().toArray())

    def _evict_scratch() -> None:
        jmap = jsc.getPersistentRDDs()
        for rid in jmap.keySet().toArray():
            if rid not in keep_ids:
                jmap.get(rid).unpersist(False)
        import gc

        gc.collect()
        registry.jvm_gc(spark)

    tracker = sc.statusTracker()
    store = jsc.sc().statusStore()
    for name in names:
        fn = queries[name]
        group = f"census-{name}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup("", "")
        wall = time.time() - t0
        jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = tasks = skipped = skipped_tasks = shuffle = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                    data = store.lastStageAttempt(sid)
                    if data.status().toString() == "SKIPPED":
                        skipped += 1
                        skipped_tasks += si.numTasks
                    else:
                        shuffle += data.shuffleWriteBytes()
        print(
            json.dumps(
                {
                    "query": name,
                    "wall_s": round(wall, 3),
                    "jobs": len(job_ids),
                    "stages": stages,
                    "tasks": tasks,
                    "skipped_stages": skipped,
                    "skipped_tasks": skipped_tasks,
                    "shuffle_bytes": shuffle,
                }
            ),
            flush=True,
        )
        _evict_scratch()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
