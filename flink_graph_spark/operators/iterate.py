"""The one driver-loop kernel: checkpoint cadence, release of superseded
checkpoints and the fused convergence count.

Spark has no in-dataflow iteration, so every iterative algorithm here
runs its supersteps from the Python driver. A superstep is a lazy plan
over the previous state; without truncation its lineage grows with
every superstep, and a state read twice per superstep (a message join
plus an update join or grouping) recomputes old supersteps ~2^k-fold.
``iterate`` is the only place a moved loop writes its eager
``localCheckpoint``, releases the one it supersedes and counts its
convergence signal.

Cadence table (``every`` is the ``checkpoint_every`` a loop passes; the
last superstep is always checkpointed too):

=============================  =====  ============================================
loop                           every  why
=============================  =====  ============================================
``pregel``                     1      Reads the state twice with different column
                                      pruning, so no exchange is reused. PageRank,
                                      sf0.1, ``local[4]``: every 3 = ~17 s
                                      executor time, every 1 = 1.8 s (33 jobs).
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
``maximal_independent_set``,   hand   Every round's checkpoint stays alive: lazy
``bipartite_matching``,               per-round outputs (winners, matched pairs,
``neighborhood_function``             per-radius estimates) read it after the
                                      loop.
``k_core``, ``scc``,           hand   Two frames of state (edges and vertices,
``boruvka_mst``,                      levels and frontier), each with its own
``betweenness``                       release order.
``k_truss``                    hand   The dropped-edge count is the job that
                                      materializes a lazy checkpoint of the
                                      support table, and the next edge set is
                                      filtered from that table; the kernel
                                      counts only over the stepped state, so it
                                      would pay a second support job per round.
``adamic_adar``,               hand   Wave loops: each wave is an independent
``jaccard_similarity``,               slice of the edges, checkpointed and then
``triangles._edge_commons``           drained, and no state carries from one
                                      wave to the next.
=============================  =====  ============================================
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..plans.checkpoints import release_local_checkpoint


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
    supersteps and always on the last one, and the previous checkpoint
    is released only after the new one is written (computing the new
    one reads it). The initial ``state`` counts as that previous
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
        state = state.localCheckpoint(eager=True)
        release_local_checkpoint(live)
        live = state
        if changed is not None and obs.get["n_changed"] == 0:
            return state, it, True
    return state, max_iter, False
