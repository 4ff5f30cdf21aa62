"""The driver-loop kernels: ``iterate`` (checkpoint cadence, release of
superseded checkpoints and the fused convergence count) and ``waves``
(hash-sliced, disk-bounded passes).

Spark has no in-dataflow iteration, so every iterative algorithm here
runs its supersteps from the Python driver. A superstep is a lazy plan
over the previous state; without truncation its lineage grows with
every superstep, and a state read twice per superstep (a message join
plus an update join or grouping) recomputes old supersteps ~2^k-fold.
``iterate`` is the only place a moved loop writes its eager
``localCheckpoint``, releases the one it supersedes and counts its
convergence signal; ``waves`` is the one loop over hash slices.

Cadence table (``every`` is the ``checkpoint_every`` a loop passes; the
last superstep is always checkpointed too):

=============================  =====  ============================================
loop                           every  why
=============================  =====  ============================================
``pregel``                     1      Reads the state twice: the broadcast side
                                      and the co-partitioned update join. The
                                      checkpoint declares the hash(id, n) layout
                                      its plan wrote, so a superstep is the
                                      broadcast job and the checkpoint job, with
                                      no exchange. sf0.1, ``local[4]``:
                                      ``pagerank_cs`` 26 jobs (33 with one
                                      grouping exchange per superstep),
                                      ``cc_cs`` 11 jobs and 0 B of shuffle.
``community_detection``        2      Reads the state twice (attach, update join)
                                      behind a two-stage per-label aggregate.
                                      sf0.1 uu: every 2 = 6.1 s, every 3 = 10.8 s.
``label_propagation``,         2      The same two reads and two-level aggregate
``label_spread``                      as community detection, in one shared
                                      superstep.
``color_graph``,               1      One checkpoint per round, as before the
``wl_color_classes``,                 kernel: each round reads the state twice and
``dag_longest_path``,                 the loops run few rounds.
``spectral_radius``,
``incremental_pagerank``,
``random_walks``
``hits``                       1      The auth-half state is re-rooted on one
                                      leaf (``plans.reuse``), so no stage runs
                                      twice; the checkpoint cuts the RDD lineage,
                                      whose skipped stages pile up otherwise.
                                      sf0.1 cs, ``local[4]``, jobs/stages with
                                      skipped: every 1 = 48/124; the hand loop
                                      it replaces (every 3rd, lazy between) =
                                      83/208; both halves re-rooted and no
                                      checkpoint = 43/337.
``principal_direction``,       1      The functions-package loops, one checkpoint
``feature_propagation``,              per round as before the kernel: the next
``kmeans_centroids``,                 round reads each state in a join and in an
``similarity._lloyd``,                aggregate. ``_lloyd`` is the one Lloyd round
``bpe._train``                        of ``kmeans_clusters`` and ``pq_codes``;
                                      ``_train`` runs the one BPE round for
                                      ``bpe_merges`` and ``bpe_compression``,
                                      whose best-pair checkpoint is a second job
                                      of the step. ``bpe_merges`` trains
                                      ``rounds - 1`` supersteps and ends its last
                                      round at the best pair, never applied.
``maximal_independent_set``    1      State: the undecided vertices plus every
                                      winner so far, flagged ``w``; ``changed =
                                      ~w``. One state checkpoint is live, not
                                      one per round: sf0.1 uu, ``local[4]``,
                                      39 jobs; the hand loop read 64.
``bipartite_matching``         1      State: the free edges. The step
                                      checkpoints each round's accepted pairs,
                                      which the result reads (``bpe._train``'s
                                      pattern); pairs folded into the state
                                      read 34 jobs and 1,105 tasks vs 29 and
                                      115 at sf0.1 cs.
``k_truss``                    1      State: the support table of the current
                                      edges; ``changed`` is its dropped-edge
                                      count, so no support pass follows the
                                      fixed point.
``mst._jump``                  1      Borůvka's pointer jumps; ``changed``
                                      counts moved pointers.
``boruvka_mst``                1      State: the labels; ``changed`` is ``comp
                                      != old comp``, which replaces a
                                      per-round emptiness job. The step
                                      checkpoints each round's selection,
                                      which the result reads, and the loop
                                      runs ``rounds - 1`` supersteps plus a
                                      final selection (``bpe_merges``'
                                      pattern). ``boruvka_mst_grid``,
                                      ``local[4]``: 54 jobs; the hand loop,
                                      which re-checkpointed a running union
                                      of the chosen edges, read 64.
``scc``                        1      The peel loop. State: (id, scc) over
                                      every vertex, NULL until peeled, a
                                      union of the peeled rows and the
                                      round's labels; ``changed`` counts the
                                      unpeeled, so the fixture stops at its
                                      last round with no emptiness job.
                                      ``scc_fixture``, ``local[4]``: 49 jobs;
                                      the hand loop's fixed-superstep mode
                                      read 51.
``waves``                      1      The wave kernel below: one checkpoint
                                      per hash slice of the edges, no state
                                      carried between waves. It runs the
                                      disk-bounded attach of
                                      ``adamic_adar``, ``jaccard_similarity``
                                      and ``triangles._commons``.
``neighborhood_function``      hand   Keeps every round's checkpoint: the
                                      per-radius estimates read it. On the
                                      kernel, which releases each superseded
                                      state, each round's estimate needs its
                                      own checkpoint: sf0.01, ``local[4]``,
                                      ``neighborhood_function_uu`` 14 → 16
                                      jobs, ``effective_diameter_uu`` 25 → 30.
``betweenness``                hand   Keeps every BFS level's checkpoint for
                                      the backward sweep. On the kernel the
                                      state must carry every level, and each
                                      level's checkpoint rewrites the earlier
                                      ones: ``betweenness_grid``, ``local[4]``,
                                      90–92 jobs with 259–265 tasks by hand,
                                      92 jobs with 568–583 tasks on the kernel.
``k_core``                     hand   Two frames (edges and the degree table).
                                      A flagged-edge state on the kernel read
                                      the same 9 jobs and 14.1 MB of shuffle
                                      with 28 tasks run vs 25 (sf0.1 uu,
                                      ``local[4]``): the move saves no job.
=============================  =====  ============================================
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..plans.checkpoints import drain_shuffle_scratch, release_local_checkpoint
from ..plans.layout import checkpoint


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int,
    checkpoint_every: int = 1,
    changed: Column | None = None,
) -> tuple[DataFrame, int, bool]:
    """Run ``step(state, it)`` for supersteps ``it = 1..max_iter``.

    Returns ``(state, iterations, converged)``. The state is written
    with an eager ``localCheckpoint`` every ``checkpoint_every``
    supersteps and always on the last one, re-rooted to declare the
    layout its plan wrote (``plans.layout.checkpoint``), and the
    previous checkpoint is released only after the new one is written
    (computing the new one reads it). The initial ``state`` counts as that previous
    checkpoint: pass one the loop owns, since it is released too when it
    is a direct ``localCheckpoint`` result (anything else is left
    alone, see ``plans/checkpoints.py``).

    ``changed`` is a boolean Column over the stepped state. When given,
    its true-count is a ``DataFrame.observe`` metric on the checkpoint
    job, so the convergence signal costs no job of its own; the loop
    stops, ``converged=True``, at the first checkpointed superstep that
    counts 0.
    """
    live = state
    for it in range(1, max_iter + 1):
        state = step(state, it)
        if it % checkpoint_every and it < max_iter:
            continue
        if changed is not None:
            obs = Observation()
            state = state.observe(obs, F.count_if(changed).alias("n_changed"))
        state = checkpoint(state)
        release_local_checkpoint(live)
        live = state
        if changed is not None and obs.get["n_changed"] == 0:
            return state, it, True
    return state, max_iter, False


def waves(
    edges: DataFrame,
    attach: Callable[[DataFrame], DataFrame],
    n_waves: int,
    keys: tuple[str, ...],
) -> DataFrame:
    """``attach`` over ``n_waves`` disjoint hash slices of ``edges``,
    each wave checkpointed eagerly, returned as the union of the waves.

    Wave ``k`` is the rows with ``pmod(xxhash64(*keys), n_waves) == k``.
    Hashing the whole key (an edge's two endpoints) assigns every row
    independently, so each wave carries ~1/K of the attach's payload
    even around a hub; hashing one endpoint would send a hub's whole
    edge set to one wave. The slice predicate pushes below the attach.
    After each wave's checkpoint is written its shuffle scratch is dead,
    and ``drain_shuffle_scratch`` returns it before the next wave
    starts, so disk scratch stays near one wave's at any input size.
    The union reads only the wave checkpoints, so the checkpoints that
    every wave reads (``edges``, the adjacency ``attach`` joins) are
    the caller's to free: its ``scratch_scope`` does at return.

    One wave is ``attach(edges)`` checkpointed, with no slice filter
    and no drain.
    """
    spark = edges.sparkSession
    parts = []
    for k in range(n_waves):
        wave = edges
        if n_waves > 1:
            wave = edges.filter(
                F.pmod(F.xxhash64(*keys), F.lit(n_waves)) == F.lit(k)
            )
        parts.append(attach(wave).localCheckpoint(eager=True))
        if n_waves > 1:
            drain_shuffle_scratch(spark)
    return reduce(DataFrame.unionByName, parts)
