"""k-core decomposition (membership) — iteratively peel vertices of
degree < k from the undirected graph until no such vertex remains; the
survivors are the k-core (Gelly-successor library; §2.10 extension).

Each round is one degree aggregation + two semi-joins (keep edges whose
endpoints both survive) — all relational, no per-vertex state. The
edge frame shrinks monotonically, so later rounds get cheaper; lineage
is truncated per round with ``localCheckpoint``. A fixed ``max_iter``
bounds the unrolled DuckDB oracle; peeling converges when a round
removes nothing, after which further rounds are no-ops — the Spark
loop early-stops on that (an ``isEmpty`` on the removed set, not a
collect), making extra oracle rounds semantically free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoints import release_local_checkpoint
from ..plans.reuse import reuse_leaf


def k_core(graph: Graph, k: int = 3, max_iter: int = 8) -> DataFrame:
    """Returns (id, core_deg) — vertices of the k-core and their degree
    WITHIN the core (the converged subgraph), over the undirected view
    with self-loop-free distinct neighbor edges."""
    e = graph.simple_undirected_edges().localCheckpoint(eager=True)
    for _ in range(max_iter):
        # LAZY checkpoint + removed-count in one action: the count job
        # materializes the degree table, so the keep-side semi-joins
        # below read stored blocks instead of re-running the aggregation
        # (the old isEmpty recomputed it), and the convergence signal
        # costs no extra job — same fusion as the Pregel superstep.
        deg = (
            e.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint(eager=False)
        )
        n_removed = deg.where(F.col("deg") < k).count()
        if n_removed == 0:
            release_local_checkpoint(deg)
            break
        keep = deg.where(F.col("deg") >= k).select(F.col("src").alias("id"))
        prev = e
        e = (
            e.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(prev)
        release_local_checkpoint(deg)
    return (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("bigint").alias("core_deg"))
        .where(F.col("core_deg") >= k)
        .orderBy("id")
    )


def oracle_ctes(
    edges_cte: str, k: int = 3, max_iter: int = 8
) -> tuple[str, str]:
    """(CTE text, final SELECT) — unrolled peel rounds."""
    ctes = [
        f"""kc_e0 AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst FROM {edges_cte} WHERE src <> dst
    UNION
    SELECT dst AS src, src AS dst FROM {edges_cte} WHERE src <> dst
  )
)"""
    ]
    for i in range(1, max_iter + 1):
        p = f"kc_e{i - 1}"
        ctes.append(
            f"""kc_keep{i} AS MATERIALIZED (
  SELECT src AS id FROM {p} GROUP BY 1 HAVING COUNT(*) >= {k}
)"""
        )
        ctes.append(
            f"""kc_e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {p} e
  JOIN kc_keep{i} a ON e.src = a.id
  JOIN kc_keep{i} b ON e.dst = b.id
)"""
        )
    final = f"""SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM kc_e{max_iter}
GROUP BY 1 HAVING COUNT(*) >= {k}
ORDER BY 1"""
    return ",\n".join(ctes), final


class KCore:
    """GraphAlgorithm packaging: result graph = the k-core induced
    subgraph, vertex value = in-core degree."""

    def __init__(self, k: int = 3, max_iter: int = 8):
        self.k = k
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        core = k_core(graph, self.k, self.max_iter).withColumnRenamed(
            "core_deg", "value"
        )
        ids = core.select("id")
        edges = graph.edges.join(
            ids.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        return Graph(core, edges)


# ---- rich-club coefficient -------------------------------------------

RICH_CLUB_KS = (2, 4, 8, 16, 32, 64)


def rich_club(
    graph: Graph, ks: tuple[int, ...] = RICH_CLUB_KS, round_to: int = 6
) -> DataFrame:
    """(k, n_rich, e_rich, phi) — rich-club coefficient φ(k) =
    2·E_k / (N_k·(N_k−1)) over the hub ladder ``ks`` (Colizza et al.
    2006): do high-degree vertices preferentially interconnect?

    Scale shape: the degree table is built once (one agg over the edge
    ends), the per-edge min-endpoint-degree needs two id joins, and the
    WHOLE ladder collapses into two single-row conditional aggregates +
    a stack — no per-k pass, no per-k shuffle. φ is NULL when the club
    has <2 members. Every read of the degree table reads one leaf
    (``plans.reuse``), so its shuffle runs once."""
    deg = reuse_leaf(
        graph.edges.select(F.col("src").alias("id"))
        .unionByName(graph.edges.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    md = (
        graph.edges.select("src", "dst")
        .join(
            deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")),
            "src",
        )
        .join(
            deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")),
            "dst",
        )
        .select(F.least("ds", "dd").alias("md"))
    )
    e_aggs = [
        F.sum((F.col("md") > k).cast("long")).alias(f"e_{k}") for k in ks
    ]
    n_aggs = [
        F.sum((F.col("deg") > k).cast("long")).alias(f"n_{k}") for k in ks
    ]
    stack_args = ", ".join(f"{k}L, n_{k}, e_{k}" for k in ks)
    wide = md.agg(*e_aggs).crossJoin(deg.agg(*n_aggs))
    return wide.select(
        F.expr(
            f"stack({len(ks)}, {stack_args}) AS (k, n_rich, e_rich)"
        )
    ).select(
        "k",
        F.coalesce("n_rich", F.lit(0)).alias("n_rich"),
        F.coalesce("e_rich", F.lit(0)).alias("e_rich"),
        F.when(
            F.coalesce("n_rich", F.lit(0)) > 1,
            F.round(
                F.lit(2.0)
                * F.col("e_rich")
                / (F.col("n_rich") * (F.col("n_rich") - 1)),
                round_to,
            ),
        ).alias("phi"),
    )


def rich_club_ctes(
    edges_cte: str, ks: tuple[int, ...] = RICH_CLUB_KS, round_to: int = 6
) -> tuple[str, str]:
    """(CTEs, final SELECT) DuckDB twin of :func:`rich_club`."""
    ctes = f"""rc_deg AS MATERIALIZED (
  SELECT id, COUNT(*) AS deg FROM (
    SELECT src AS id FROM {edges_cte}
    UNION ALL SELECT dst FROM {edges_cte}) GROUP BY 1),
rc_md AS MATERIALIZED (
  SELECT LEAST(d1.deg, d2.deg) AS md
  FROM {edges_cte} e
  JOIN rc_deg d1 ON e.src = d1.id
  JOIN rc_deg d2 ON e.dst = d2.id)"""
    selects = []
    for k in ks:
        selects.append(
            f"""SELECT CAST({k} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM rc_deg WHERE deg > {k}) AS BIGINT)
           AS n_rich,
       CAST((SELECT COUNT(*) FROM rc_md WHERE md > {k}) AS BIGINT)
           AS e_rich"""
        )
    union = "\nUNION ALL\n".join(selects)
    final = f"""SELECT k, n_rich, e_rich,
       CASE WHEN n_rich > 1
            THEN ROUND(2.0 * e_rich / (n_rich * (n_rich - 1)), {round_to})
       END AS phi
FROM ({union})"""
    return ctes, final
