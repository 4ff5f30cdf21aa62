"""Graph summarization — condense vertices by value into super-vertices
and group parallel edges between groups (post-prototype Gelly
`library/Summarization.java` ~L60-200 per SURVEY.md PROVENANCE; the
andralungu prototype predates it, so this is a §2.10 parity extension
with the successor library).

Semantics (faithful to Gelly):
* Vertex groups = vertices sharing a value; the representative is the
  MIN vertex id in the group (Gelly picks an arbitrary group member —
  min-id makes the choice deterministic and oracle-able).
* Summary vertex = (rep id, group value, group count).
* Summary edge = edges grouped by (source group, target group[, edge
  value]) with a count; endpoints are the group representatives.

Scale shape: one hash-agg over vertices (group build), one shuffle join
edges⋈mapping on each endpoint (the same two joins every endpoint
enrichment pays), one hash-agg over edges. No self-joins, no driver
collection; every step is a Catalyst-planned relational op, so AQE
handles group skew (a giant group is just a hot agg key, and the
mapping join can go broadcast when the vertex side is a dim table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, GraphAlgorithm
from ..plans.reuse import reuse_leaf


def vertex_groups(vertices: DataFrame) -> DataFrame:
    """(group_value, rep, n_vertices) — one row per distinct vertex
    value; rep = min vertex id in the group."""
    return vertices.groupBy(F.col("value").alias("group_value")).agg(
        F.min("id").alias("rep"),
        F.count("*").cast("long").alias("n_vertices"),
    )


def summarize_vertices(graph: Graph) -> DataFrame:
    """Summary vertex frame: (id=rep, group_value, n_vertices)."""
    return vertex_groups(graph.vertices).select(
        F.col("rep").alias("id"), "group_value", "n_vertices"
    )


def summarize_edges(graph: Graph, include_edge_value: bool = False) -> DataFrame:
    """Summary edge frame: (src=rep(src group), dst=rep(dst group),
    src_group, dst_group[, edge_value], n_edges).

    ``include_edge_value=True`` mirrors Gelly exactly (edges grouped by
    (srcGroup, dstGroup, edgeValue)); False collapses all parallel
    edges between two groups regardless of value — the common
    condensation-graph ask. Both endpoint joins read one mapping leaf
    (``plans.reuse``).
    """
    groups = vertex_groups(graph.vertices).select(
        F.col("group_value").alias("value"), "rep", "group_value"
    )
    mapping = reuse_leaf(
        graph.vertices.join(groups, "value").select("id", "rep", "group_value")
    )
    e = (
        graph.edges.join(
            mapping.select(
                F.col("id").alias("src"),
                F.col("rep").alias("src_rep"),
                F.col("group_value").alias("src_group"),
            ),
            "src",
        )
        .join(
            mapping.select(
                F.col("id").alias("dst"),
                F.col("rep").alias("dst_rep"),
                F.col("group_value").alias("dst_group"),
            ),
            "dst",
        )
    )
    keys = [
        F.col("src_rep").alias("src"),
        F.col("dst_rep").alias("dst"),
        "src_group",
        "dst_group",
    ]
    if include_edge_value:
        keys.append(F.col("value").alias("edge_value"))
    return e.groupBy(*keys).agg(F.count("*").cast("long").alias("n_edges"))


class Summarization(GraphAlgorithm):
    """GraphAlgorithm packaging: the summary graph itself — vertex value
    := struct(group_value, n_vertices), edge value := n_edges."""

    def run(self, graph: Graph) -> Graph:
        v = summarize_vertices(graph).select(
            "id", F.struct("group_value", "n_vertices").alias("value")
        )
        e = summarize_edges(graph).select(
            "src", "dst", F.col("n_edges").alias("value")
        )
        return Graph(v, e)


# --- DuckDB oracle twins (compose with CS_EDGES_SQL/CS_VERTICES_SQL) ---

NATION_LABELS_SQL = """
nation_labels AS MATERIALIZED (
    SELECT v.id, CAST(c.c_nationkey AS BIGINT) AS value
    FROM cs_vertices v JOIN customer c ON v.id = c.c_custkey
    UNION ALL
    SELECT v.id, CAST(s.s_nationkey AS BIGINT) AS value
    FROM cs_vertices v JOIN supplier s ON v.id = s.s_suppkey + 1000000
)"""

VGROUPS_SQL = """
vgroups AS MATERIALIZED (
    SELECT value AS group_value, MIN(id) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM nation_labels GROUP BY 1
)"""

SUMMARY_VERTICES_SQL = """
SELECT rep AS id, group_value, n_vertices FROM vgroups"""

VMAP_SQL = """
vmap AS MATERIALIZED (
    SELECT l.id, g.rep, g.group_value
    FROM nation_labels l JOIN vgroups g ON l.value = g.group_value
)"""

SUMMARY_EDGES_SQL = """
SELECT ms.rep AS src, md.rep AS dst,
       ms.group_value AS src_group, md.group_value AS dst_group,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM cs_edges e
JOIN vmap ms ON e.src = ms.id
JOIN vmap md ON e.dst = md.id
GROUP BY 1, 2, 3, 4"""
