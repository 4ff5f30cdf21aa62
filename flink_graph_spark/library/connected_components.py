"""Connected components / isWeaklyConnected — reference:
Graph.isWeaklyConnected (Graph.java ~L945-1000): min-id propagation over
the undirected graph via vertex-centric iteration, then a
count(distinct component)==1 check.

Min-propagation is integer-exact and order-insensitive → oracle parity
at any scale with fixed iteration counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, GraphAlgorithm
from ..operators.pregel import pregel


def connected_components(
    graph: Graph,
    max_iter: int = 10,
    symmetrized_edges: bool = False,
) -> DataFrame:
    """Returns (id, comp) = min vertex id reachable within max_iter hops
    over the undirected view.

    Plan shape (r10, guide §2.4): the loop messages ONE way over a
    symmetrized edge table — each superstep is a single frontier-to-
    edges join sending ``src_comp`` to ``dst``. The old shape instead
    sent messages both ways along the stored rows, which cost every
    superstep TWO edge-table joins (and, once the frontier outgrows a
    broadcast, a full edge re-exchange by dst — the cache is hash(src))
    plus the union of the two message streams. Min-propagation is
    multiplicity- and direction-insensitive, so results are identical
    row-for-row (self-loops message twice in both formulations).

    ``symmetrized_edges=True`` declares the caller's edge table already
    carries both directions of every undirected pair (e.g. the shared
    persisted cs_und/uu builder caches) — the loop then runs on it
    as-is with ZERO per-query edge materialization, the best posture at
    every scale. Otherwise the symmetrized table goes to ``pregel``,
    which lays it out by dst for the loop and frees it on return (one
    2|E| shuffle up front replaces per-superstep doubled joins). Alternating same-session
    floors at sf0.1 measured the shapes within noise locally (3.15 /
    3.35 / 3.38s two-sided / sym-once / und-cache on the cs graph) —
    the win is the per-superstep join/exchange count at scale, see
    OPTIMIZATION_r10.md §2.
    """
    g = graph
    if not symmetrized_edges:
        e = graph.edges.select("src", "dst")
        g = Graph(
            graph.vertices,
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ),
        )
    res = pregel(
        g,
        initial=F.col("id"),
        msg_to_dst=F.col("src_comp"),
        msg_to_dst_reads=("src",),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("comp"), F.col("__agg")),
        max_iter=max_iter,
        state_col="comp",
        delta=True,
    )
    return res.vertices


def is_weakly_connected(graph: Graph, max_iter: int = 10) -> DataFrame:
    """1-row frame (connected BOOLEAN), reference's DataSet<Boolean>."""
    comps = connected_components(graph, max_iter)
    return comps.agg(
        (F.countDistinct("comp") == F.lit(1)).alias("connected")
    )


def oracle_ctes(
    edges_cte: str, vertices_cte: str, max_iter: int = 10
) -> tuple[str, str]:
    ctes = [
        f"cc_ue AS MATERIALIZED (SELECT src, dst FROM {edges_cte}"
        f" UNION ALL SELECT dst AS src, src AS dst FROM {edges_cte})",
        f"c0 AS MATERIALIZED (SELECT id, id AS comp FROM {vertices_cte})",
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT v.id, LEAST(p.comp, m.mc) AS comp
  FROM {vertices_cte} v
  JOIN c{i - 1} p ON v.id = p.id
  LEFT JOIN (
    SELECT e.dst AS id, MIN(s.comp) AS mc
    FROM c{i - 1} s JOIN cc_ue e ON s.id = e.src
    GROUP BY 1
  ) m ON v.id = m.id
)"""
        )
    final = f"SELECT id, comp FROM c{max_iter}"
    return ",\n".join(ctes), final


def connected_oracle_final(max_iter: int) -> str:
    return (
        f"SELECT (COUNT(DISTINCT comp) = 1) AS connected FROM c{max_iter}"
    )


class ConnectedComponents(GraphAlgorithm):
    def __init__(self, max_iter: int = 10):
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        c = connected_components(graph, self.max_iter)
        return Graph(c.withColumnRenamed("comp", "value"), graph.edges)
