"""Incremental SSSP maintenance under edge removal (§2.10 extension —
the Gelly-successor `IncrementalSSSPExample` re-thought relationally;
the reference prototype has no incremental recompute).

Given a graph, its SSSP result `dist`, and a removed edge (u, v), the
exact new distances are recovered WITHOUT a full recompute:

1. **Tight-edge DAG**: edge (a, b, w) is *tight* iff
   dist(a) + w == dist(b) — the shortest-path DAG. Computed over the
   post-removal edge set with one triplet-shaped join.
2. **Invalidation = reachability**: a vertex's old distance is still
   valid iff it is reachable from the source THROUGH TIGHT EDGES after
   the removal. Vertices outside that reachable set had every shortest
   path run through (u, v) — their distances are invalidated to +inf
   (NULL). Reachability is a delta-mode Pregel on the tight subgraph —
   the same min/OR-propagation kernel as connected components, but on
   a DAG whose edge count is ≤ |E| and whose depth is the shortest-path
   depth.
3. **Delta repair**: one delta-mode Bellman-Ford over the new edge set
   initialized with the surviving distances. Valid regions re-send once
   and immediately converge; only the invalidated region iterates, so
   the cost is proportional to the AFFECTED subgraph, not the graph.

At 100 TB this is the difference between re-running a 30-superstep
global fixpoint and running depth-of-affected-region supersteps over
the frontier of a (typically tiny) invalidated zone. Exactness: the
repair is plain min-propagation from a state that is everywhere either
the true new distance or +inf, so it converges to the full-recompute
answer (equality-tested in tests/test_algorithms.py; the registry
oracle IS a full recompute on the modified edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.iterate import iterate
from ..operators.pregel import pregel
from ..plans.checkpoints import scratch_scope
from ..rounding import ROUND_TO
from .pagerank import BETA, page_rank


def incremental_sssp_remove_edge(
    graph: Graph,
    dist: DataFrame,
    source_id,
    u,
    v,
    max_iter: int = 10,
) -> DataFrame:
    """(id, dist) after removing edge (u, v), exact vs full recompute.

    ``dist`` is the prior result (id, dist) for ``graph`` (NULL = +inf /
    unreachable). All parallel (u, v) edges are removed.
    """
    e2 = graph.edges.filter(
        ~((F.col("src") == F.lit(u)) & (F.col("dst") == F.lit(v)))
    )
    d = dist.select("id", "dist")

    # 1. tight edges of the post-removal graph
    tight = (
        e2.join(
            d.select(F.col("id").alias("src"), F.col("dist").alias("sd")),
            "src",
        )
        .join(
            d.select(F.col("id").alias("dst"), F.col("dist").alias("dd")),
            "dst",
        )
        .filter(F.col("sd") + F.col("value") == F.col("dd"))
        .select("src", "dst", F.lit(1).cast("long").alias("value"))
    )

    # 2. reachability from source over tight edges (0/1 max-propagation)
    tg = Graph(d.select("id", F.col("id").alias("value")), tight)
    reach = pregel(
        tg,
        initial=F.when(F.col("id") == F.lit(source_id), F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long")),
        msg_to_dst=F.col("src_r"),
        msg_to_dst_reads=("src",),
        agg=F.max("__msg").alias("__agg"),
        update=F.greatest(F.col("r"), F.col("__agg")),
        max_iter=max_iter,
        state_col="r",
        delta=True,
    ).vertices

    # 3. surviving distances (+inf where invalidated), then delta repair
    init = d.join(reach, "id").select(
        "id", F.when(F.col("r") == 1, F.col("dist")).alias("dist0")
    )
    g2 = Graph(init.select("id", F.col("dist0").alias("value")), e2)
    res = pregel(
        g2,
        initial=F.col("value"),
        msg_to_dst=F.col("src_dist") + F.col("value"),
        msg_to_dst_reads=("src",),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("dist"), F.col("__agg")),
        max_iter=max_iter,
        state_col="dist",
        delta=True,
    )
    return res.vertices


# ---- incremental PageRank (warm restart under edge insertion) --------

INCR_PRE_ITER = 6
INCR_POST_ITER = 3


@scratch_scope
def incremental_pagerank(
    graph: Graph,
    added_edges: DataFrame,
    pre_iter: int = INCR_PRE_ITER,
    post_iter: int = INCR_POST_ITER,
) -> DataFrame:
    """(id, rank) — PageRank maintained under edge insertion: run
    ``pre_iter`` supersteps on the base graph, add the edges, then
    resume ``post_iter`` supersteps FROM THE OLD RANKS instead of
    restarting at 1/n. Power iteration contracts toward the new
    stationary vector from ANY start, and a near-converged start needs
    ~|affected-region| supersteps instead of the full mixing time —
    the PageRank face of the same incremental-maintenance contract as
    :func:`incremental_sssp_remove_edge`. The oracle replays both
    phases unrolled."""
    r = page_rank(graph, BETA, pre_iter, round_to=None)
    e2 = graph.edges.unionByName(
        added_edges.select(*graph.edges.columns)
    ).localCheckpoint(eager=True)
    deg2 = e2.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("double").alias("outdeg")
    )
    n = graph.vertices.count()
    if n == 0:
        # empty base graph: page_rank already returned the empty
        # ranking; no resume phase to run (1/n teleport is undefined)
        return r.select("id", F.round("rank", ROUND_TO).alias("rank"))

    def superstep(r: DataFrame, _it: int) -> DataFrame:
        contrib = (
            r.join(deg2, "id")
            .join(e2.select(F.col("src").alias("id"), "dst"), "id")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("s"))
        )
        return graph.vertices.select("id").join(contrib, "id", "left").select(
            "id",
            (
                F.lit((1.0 - BETA) / n) + F.lit(BETA) * F.coalesce("s", F.lit(0.0))
            ).alias("rank"),
        )

    r, _, _ = iterate(r, superstep, post_iter)
    return r.select("id", F.round("rank", ROUND_TO).alias("rank"))


def incr_pagerank_oracle(
    edges_cte: str, vertices_cte: str, added_values: str
) -> tuple[str, str]:
    """(CTEs, final SELECT): phase-1 unrolled PR on the base edges,
    phase-2 resumed on base ∪ ``added_values`` (SQL VALUES rows of
    (src, dst, value))."""

    def phase(prefix, edges, n_iter, init_cte):
        ctes = [
            f"""{prefix}_deg AS MATERIALIZED (
  SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg
  FROM {edges} GROUP BY 1)""",
        ]
        prev = init_cte
        for i in range(1, n_iter + 1):
            ctes.append(
                f"""{prefix}_r{i} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {BETA!r}) / (SELECT COUNT(*) FROM {vertices_cte})
           + {BETA!r} * COALESCE(m.s, 0.0) AS rank
  FROM {vertices_cte} v
  LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / d.outdeg) AS s
    FROM {prev} r
    JOIN {edges} e ON r.id = e.src
    JOIN {prefix}_deg d ON d.id = e.src
    GROUP BY 1
  ) m ON v.id = m.id)"""
            )
            prev = f"{prefix}_r{i}"
        return ctes, prev

    base = [
        f"""ip_r0 AS MATERIALIZED (
  SELECT id, 1.0 / (SELECT COUNT(*) FROM {vertices_cte}) AS rank
  FROM {vertices_cte})""",
        f"""ip_e2 AS MATERIALIZED (
  SELECT src, dst, value FROM {edges_cte}
  UNION ALL
  SELECT * FROM (VALUES {added_values}) t(src, dst, value))""",
    ]
    p1, last1 = phase("ip_a", edges_cte, INCR_PRE_ITER, "ip_r0")
    p2, last2 = phase("ip_b", "ip_e2", INCR_POST_ITER, last1)
    final = f"SELECT id, ROUND(rank, {ROUND_TO}) AS rank FROM {last2}"
    return ",\n".join(base + p1 + p2), final
