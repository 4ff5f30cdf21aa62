"""Per-query driver-round-trip census: jobs / stages / tasks / wall.

On a box whose scheduler probe reads 300-900 ms per no-op job (healthy
floor: tens of ms — BASELINE.md), every Spark job a query launches
costs ~0.5 s of pure driver-barrier latency before any data moves, so
at bench scale (sf0.1 tables are KB-MB) wall time is dominated by JOB
COUNT, not bytes. This tool measures that directly — it counts, so it
is scheduler-noise-insensitive — and is the measurement behind the r10 "fewer, larger jobs" changes
(guide §2.2/§2.6: driver barriers are the local-mode analogue of
scheduler round-trips).

Usage: python tools/job_census.py SF_DIR query [query ...]
Prints one JSON line per query:
  {"query": q, "wall_s": w, "jobs": j, "stages": s, "tasks": t,
   "skipped_stages": k, "skipped_tasks": kt, "shuffle_bytes": b,
   "executor_cpu_s": c}
``stages`` and ``tasks`` count every stage of every job, skipped ones
(whose shuffle output an earlier job already wrote) included; the
``skipped_`` fields are that part. ``shuffle_bytes`` is the shuffle
write and ``executor_cpu_s`` the executor CPU time (``executorCpuTime``)
of the stages that ran. A query listed twice gets two rows, each
counted over its own run.

Methodology matches bench.py: tables + derived-graph caches warmed
outside the census and the Python worker pool pre-spun
(``tools/harness.py``), noop-sink execution. The registry frees the
previous query's checkpoints as each query begins (an unpersist, which
launches no job), so the census itself evicts nothing. Each row runs
under its own job group (``census-<i>-<query>``); stages/tasks summed
over the group's jobs via statusTracker, shuffle and CPU read from the
status store.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from flink_graph_spark.plans.session import get_spark, tune_session  # noqa: E402
from tools.harness import warm_up  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    spark = get_spark("job-census")
    tune_session(spark)

    warm_up(spark, sf_dir)

    queries = entrymod.queries()
    sc = spark.sparkContext
    jsc = sc._jsc
    tracker = sc.statusTracker()
    store = jsc.sc().statusStore()
    for i, name in enumerate(names):
        fn = queries[name]
        group = f"census-{i}-{name}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup("", "")
        wall = time.time() - t0
        jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = tasks = skipped = skipped_tasks = shuffle = cpu_ns = 0
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
                        cpu_ns += data.executorCpuTime()
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
                    "executor_cpu_s": round(cpu_ns / 1e9, 3),
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
