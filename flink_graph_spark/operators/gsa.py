"""Gather–Sum–Apply iteration — the PowerGraph-style second iteration
surface that the Gelly line added alongside vertex-centric Spargel
(`runGatherSumApplyIteration` / GatherFunction, SumFunction,
ApplyFunction in post-prototype Gelly; the reference prototype,
`andralungu/flink-graph`, only ships vertex-centric — this operator is
Gelly-successor parity, kept because several algorithms read more
naturally as GSA).

Semantics (one superstep):
  gather : per in-edge triplet -> a partial value (Column over
           ``src``/``dst``/edge value cols/``src_state``/``dst_state``)
  sum    : commutative+associative aggregate over the gathered partials
           (aggregate Column over ``__msg``, aliased ``__agg``)
  apply  : (old state, summed value) -> new state (Column over
           ``state``/``__agg``; ``__agg`` is null when nothing gathered)

On Spark this compiles to EXACTLY the same physical loop as the
vertex-centric operator — one edges⋈states join, then one aggregation
grouping the gathered values together with the vertex states per
superstep, edges shuffled once for the whole loop — so GSA is
a thin, documented re-skin of ``pregel`` with gather fixed to the
in-edge direction (PowerGraph's canonical formulation). The value is
API parity + algorithm readability, not a different engine path; both
surfaces share the delta/workset optimization and the per-superstep
checkpoint.
"""

from __future__ import annotations

from pyspark.sql import Column

from ..graph import Graph
from .pregel import PregelResult, pregel


def gather_sum_apply(
    graph: Graph,
    initial: Column,
    gather: Column,
    sum_agg: Column,
    apply: Column,
    max_iter: int = 10,
    state_col: str = "state",
    delta: bool = False,
    gather_reads: tuple[str, ...] | None = None,
) -> PregelResult:
    """Run a gather–sum–apply iteration (see module docstring)."""
    return pregel(
        graph,
        initial=initial,
        agg=sum_agg,
        update=apply,
        msg_to_dst=gather,
        max_iter=max_iter,
        state_col=state_col,
        delta=delta,
        msg_to_dst_reads=gather_reads,
    )
