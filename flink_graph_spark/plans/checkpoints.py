"""Explicit release of localCheckpoint blocks: superseded ones inside a
query, and every one a finished query left behind.

Iterative operators truncate lineage with ``localCheckpoint(eager=True)``
each round. Spark only reclaims those blocks when the ContextCleaner
notices the JVM-side RDD object is unreachable — which, driven through
py4j, can lag indefinitely (measured: a finished run's blocks survive
``gc.collect()`` + ``System.gc()`` polling for minutes and are only
displaced when the same code path runs again). Harmless at test scale;
at cluster scale a 50-superstep loop would pin 50 snapshots of vertex
state in executor storage until the driver GC happens to flush them.

So no checkpoint waits for a GC. Loops release superseded checkpoints
EXPLICITLY: the moment a new checkpoint is materialized (eager=True ⇒
its blocks are already written and its lineage no longer reads the
parent), the previous round's blocks are unpersisted. The checkpoints
the returned DataFrame still reads belong to the query until the next
registered query begins, which frees them all with
``release_all_local_checkpoints`` (called by ``registry._query_begin``).
The builder caches are ``DataFrame.persist()`` frames, never locally
checkpointed, so that release leaves them resident.

Safety contract: call ``release_local_checkpoint`` only on a DataFrame
that (a) came straight from ``localCheckpoint()`` and (b) no surviving
DataFrame's plan can read anymore. localCheckpoint blocks are NOT
recomputable — releasing one that a live plan still references turns
the next action into a block-not-found failure, which is why this is a
deliberate helper with a narrow contract and not a blanket unpersist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: A drain engages for real only if the first GC pass frees at least
#: this much within DRAIN_PROBE_S — less means the disk deficit
#: predates the caller (a PRIOR query's leftovers someone else already
#: drained, or genuinely-live data) and waiting cannot help. SWEEP_r08
#: measured the cost of the old engage-on-free-space-alone predicate:
#: adamic_adar_pc p10 pass 1 burned 180s+ inside a timed window
#: (233.0s vs pass 0's 41.4s) with nothing drainable.
DRAIN_EVIDENCE_BYTES = 1 << 30
DRAIN_PROBE_S = 15.0


def spark_scratch_dir(spark) -> str:
    """The filesystem Spark's shuffle scratch actually lands on:
    ``SPARK_LOCAL_DIRS`` env, else ``spark.local.dir`` conf, else
    /tmp (Spark's own default). The disk gates below must read THIS
    mount — statvfs on /tmp while scratch lives elsewhere either never
    engages (reintroducing the p100 'No space left on device' the
    waves exist to fix) or engages spuriously."""
    import os

    dirs = os.environ.get("SPARK_LOCAL_DIRS")
    if not dirs:
        try:
            dirs = spark.conf.get("spark.local.dir", None)
        except Exception:
            dirs = None
    first = (dirs or "/tmp").split(",")[0].strip()
    return first if os.path.isdir(first) else "/tmp"


def drain_shuffle_scratch(
    spark,
    min_free_gb: float = 40.0,
    timeout_s: int = 180,
    _free=None,
    _sleep=None,
    _system_gc=None,
) -> bool:
    """Disk-gated shuffle-scratch drain for MULTI-JOB operators that
    materialize a narrow waist mid-plan (e.g. adamic_adar's enriched
    checkpoint): after the waist is materialized the enumeration's
    shuffle files are dead weight, but their deletion is ASYNC — the
    ContextCleaner only queues them once a JVM GC notices the
    ShuffleDependency objects are unreachable, and processes the queue
    one entry at a time. On a scratch-tight box the operator's SECOND
    phase then starts against a nearly-full disk and dies on space the
    cleaner was about to free (the exact failure mode
    tools/scale_sweep.py's between-queries drain fixes — this is the
    same loop, callable BETWEEN a single operator's phases).

    Engage contract (r9 — the r8 artifact measured the old one firing
    spuriously for 180s inside a timed window):

    1. free space on the session's ACTUAL scratch mount
       (:func:`spark_scratch_dir`, not hardcoded /tmp) must be below
       ``min_free_gb`` — every normally-sized run pays one statvfs
       call and nothing else;
    2. the first GC pass must free ≥ DRAIN_EVIDENCE_BYTES within
       DRAIN_PROBE_S — otherwise the deficit predates this operator
       (nothing of ours is drainable) and the drain bails, capping a
       false engage at ~15s instead of the old 180s timeout;
    3. the wait loop then runs to ``min_free_gb`` or ``timeout_s``,
       bailing after 15s without ≥1 GiB of progress.

    Returns True iff the floor was reached (or never breached).
    ``_free``/``_sleep``/``_system_gc`` are test seams for the engage
    predicate (real disk, clock and py4j by default).
    """
    import gc
    import shutil
    import time

    scratch = spark_scratch_dir(spark)
    free_fn = _free or (lambda: shutil.disk_usage(scratch).free)
    sleep_fn = _sleep or time.sleep

    def default_system_gc() -> bool:
        try:
            spark.sparkContext._jvm.System.gc()
            return True
        except Exception:
            return False  # non-py4j session stub (unit tests)

    system_gc = _system_gc or default_system_gc

    floor = min_free_gb * 2**30
    start_free = free_fn()
    if start_free >= floor:
        return True
    gc.collect()  # drop py4j refs so the JVM can see dead dependencies
    if not system_gc():
        return False
    # evidence probe: deletions are async, so poll briefly for the
    # first GC pass's effect before committing to the full wait loop.
    # `elapsed` advances by the sleep amounts (sleep dominates wall
    # time here and keeps the loop deterministic under the test seams).
    elapsed = 0.0
    evidence = False
    while elapsed < DRAIN_PROBE_S:
        sleep_fn(3)
        elapsed += 3
        now = free_fn()
        if now >= floor:
            return True
        if now - start_free >= DRAIN_EVIDENCE_BYTES:
            evidence = True
            break
    if not evidence:
        return False  # pre-existing deficit: waiting cannot help
    free = free_fn()
    stalled = 0
    while elapsed < timeout_s:
        sleep_fn(5)
        elapsed += 5
        if not system_gc():
            return False
        now = free_fn()
        if now >= floor:
            return True
        stalled = stalled + 1 if now - free < DRAIN_EVIDENCE_BYTES else 0
        if stalled >= 3:  # 15s without progress: nothing left to drain
            return False
        free = now
    return False


def release_local_checkpoint(df: DataFrame) -> bool:
    """Unpersist the RDD behind a localCheckpoint()ed DataFrame.

    Returns True if a LogicalRDD was found and its RDD unpersisted
    (non-blocking), False otherwise. Defensive no-op on anything that
    is not a direct localCheckpoint result (e.g. a ``.select()``
    wrapper, or Spark Connect frames with no ``_jdf``), so callers can
    release unconditionally in loop teardown.
    """
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getName().endswith(".LogicalRDD"):
            node.rdd().unpersist(False)
            return True
    except Exception:
        pass
    return False


def release_all_local_checkpoints(spark) -> None:
    """Unpersist (non-blocking) every persistent RDD of the session that
    is locally checkpointed. Safe only where no live frame reads a
    checkpoint anymore: between registered queries, whose result frames
    are valid until the next one begins."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in rdds.keySet().toArray():
        rdd = rdds.get(rid).rdd()
        if rdd.isLocallyCheckpointed():
            rdd.unpersist(False)
