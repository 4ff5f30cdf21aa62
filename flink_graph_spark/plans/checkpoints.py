"""Explicit release of localCheckpoint blocks: superseded ones inside a
loop, the ones a call's result does not read when it returns, and
every one a finished query left behind.

Spark reclaims a checkpoint's blocks only when the ContextCleaner sees
its JVM-side RDD unreachable, which, driven through py4j, can lag
indefinitely (a finished run's blocks survived ``gc.collect()`` +
``System.gc()`` polling for minutes). So no checkpoint waits for a GC:

- the loop kernels (``operators/iterate.py``) unpersist the previous
  round's checkpoint once the new one is written (it no longer reads
  the old blocks);
- ``scratch_scope`` frees at a call's return every checkpoint the call
  made that its returned value does not read;
- ``registry._query_begin`` frees, with
  ``release_all_local_checkpoints``, the checkpoints the previous
  query's result read. The builder caches are ``DataFrame.persist()``
  frames, never locally checkpointed, so no release touches them.

Safety contract: localCheckpoint blocks are NOT recomputable, so
releasing one that a live plan still reads turns the next action into
a block-not-found failure. ``scratch_scope`` checks the contract
against the plan, not a comment: it keeps every checkpoint a DataFrame
in the returned value reaches through its analyzed plan, subqueries and
the RDD lineage of its leaves. It cannot see a frame held anywhere else
(an attribute, a closure, a module cache), so a scoped function keeps
no checkpoint there. ``release_local_checkpoint`` is the loops' narrow
tool: call it only on a DataFrame straight from ``localCheckpoint()``
that no surviving plan can read anymore.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
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


def _seq(jseq) -> list:
    """A Scala ``Seq`` from py4j as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _frames(value):
    """Every DataFrame in ``value``, inside tuples (namedtuples such as
    ``PregelResult`` too) and lists."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)


def reached_rdd_ids(value, since: int) -> set[int]:
    """The ids, ``since`` or newer, of the RDDs the DataFrames in
    ``value`` read: through each analyzed plan's ``children()`` and
    ``subqueries()`` (a ``DataFrame.scalar()`` is one) to the
    ``LogicalRDD`` leaves, then down each leaf RDD's ``dependencies()``,
    so a lazy checkpoint not yet written keeps the checkpoints its
    lineage reads (a written one depends on its own blocks only). An
    RDD older than ``since`` is not entered: all it depends on is older
    still. Launches no Spark job."""
    plans = [df._jdf.queryExecution().analyzed() for df in _frames(value)]
    rdds, reached = [], set()
    while plans:
        node = plans.pop()
        if node.getClass().getSimpleName() == "LogicalRDD":
            rdds.append(node.rdd())
        plans += _seq(node.children()) + _seq(node.subqueries())
    while rdds:
        rdd = rdds.pop()
        rid = rdd.id()
        if rid >= since and rid not in reached:
            reached.add(rid)
            rdds += [dep.rdd() for dep in _seq(rdd.dependencies())]
    return reached


def scratch_scope(fn):
    """Decorator: when ``fn`` returns, unpersist (non-blocking) every
    local checkpoint made during the call that the returned value does
    not read (:func:`reached_rdd_ids`); the rest go to the caller with
    the value. A call that raises frees nothing (the next registered
    query does)."""

    @functools.wraps(fn)
    def scoped(*args, **kwargs):
        sc = SparkContext._active_spark_context
        since = sc._jsc.sc().newRddId()  # every RDD the call makes is newer
        result = fn(*args, **kwargs)
        rdds = sc._jsc.getPersistentRDDs()
        own = [rdds.get(i).rdd() for i in rdds.keySet().toArray() if i >= since]
        own = [rdd for rdd in own if rdd.isLocallyCheckpointed()]
        if own:
            reached = reached_rdd_ids(result, since)
            for rdd in own:
                if rdd.id() not in reached:
                    rdd.unpersist(False)
        return result

    return scoped
