"""PageRank — reference: flink.graphs.library.PageRank (~110 LoC,
VertexRankUpdater ~L40-65, RankMessenger ~L70-95).

Semantics mirrored exactly: rank init 1/n; each superstep every vertex
sends ``rank / out_degree`` along each out-edge (the reference
pre-normalizes edge values to 1/outDegree — uniform transition); update
``rank = (1-beta)/n + beta * sum(msgs)``. Dangling vertices leak rank,
as in the reference. Fixed iteration count → DuckDB-oracle-able via
unrolled CTEs (``oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, GraphAlgorithm
from ..operators.pregel import pregel
from ..rounding import ROUND_TO

BETA = 0.85  # damping factor


def page_rank(
    graph: Graph,
    beta: float = BETA,
    max_iter: int = 10,
    round_to: int | None = ROUND_TO,
) -> DataFrame:
    """Returns (id, rank). Scale: the out-degree normalization lives in
    the VERTEX STATE (a (rank, od) struct, od loop-invariant) rather than
    in a normalized copy of the edge table — the input edge table is used
    untouched: ``pregel`` lays it out by dst once per call, and a
    superstep broadcasts the (small) state and shuffles nothing.
    """
    n = graph.vertex_count()  # memoized on the Graph — one count job ever
    if n == 0:
        # empty graph: 1/n seeding is undefined — the fixpoint over no
        # vertices is the empty ranking, same schema
        return graph.vertices.select("id", F.lit(0.0).alias("rank"))
    teleport = (1.0 - beta) / n

    outdeg = graph.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )
    v0 = graph.vertices.select("id").join(outdeg, "id", "left")
    g = Graph(v0, graph.edges)

    res = pregel(
        g,
        initial=F.struct(
            F.lit(1.0 / n).alias("rank"),
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("double").alias("od"),
        ),
        # rank/od divides directly (same form as the oracle's
        # SUM(rank / outdeg)), not rank * (1/od)
        msg_to_dst=F.col("src_st")["rank"] / F.col("src_st")["od"],
        msg_to_dst_reads=("src",),
        agg=F.sum("__msg").alias("__agg"),
        update=F.struct(
            (
                F.lit(teleport)
                + F.lit(beta) * F.coalesce(F.col("__agg"), F.lit(0.0))
            ).alias("rank"),
            F.col("st")["od"].alias("od"),
        ),
        max_iter=max_iter,
        state_col="st",
    )
    out = res.vertices.select("id", F.col("st")["rank"].alias("rank"))
    if round_to is not None:
        out = out.select("id", F.round("rank", round_to).alias("rank"))
    return out


def oracle_ctes(
    edges_cte: str, vertices_cte: str, beta: float = BETA, max_iter: int = 10
) -> tuple[str, str]:
    """(extra CTE text, final SELECT) for composition by the caller."""
    ctes = [
        f"pr_deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg"
        f" FROM {edges_cte} GROUP BY 1)",
        f"pr_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM {vertices_cte})",
        f"r0 AS MATERIALIZED (SELECT v.id, 1.0/(SELECT n FROM pr_n) AS rank FROM {vertices_cte} v)",
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {beta!r})/(SELECT n FROM pr_n)
           + {beta!r} * COALESCE(m.s, 0.0) AS rank
  FROM {vertices_cte} v
  LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / d.outdeg) AS s
    FROM r{i - 1} r
    JOIN {edges_cte} e ON r.id = e.src
    JOIN pr_deg d ON d.id = e.src
    GROUP BY 1
  ) m ON v.id = m.id
)"""
        )
    final = f"SELECT id, ROUND(rank, {ROUND_TO}) AS rank FROM r{max_iter}"
    return ",\n".join(ctes), final


class PageRank(GraphAlgorithm):
    """GraphAlgorithm packaging (reference PageRank.java ctor (beta,
    maxIter)); beta is the module's ``BETA``."""

    def __init__(self, max_iter: int = 10):
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        ranks = page_rank(graph, BETA, self.max_iter, round_to=None)
        return Graph(ranks.withColumnRenamed("rank", "value"), graph.edges)


def weighted_page_rank(
    graph: Graph, beta: float = BETA, max_iter: int = 10
) -> DataFrame:
    """Edge-weighted PageRank: each superstep a vertex distributes
    ``rank * w(e) / Σ_out w`` along its out-edges (the uniform variant is
    the special case w≡1). Same scale posture as ``page_rank``: the
    weight normalizer is folded into the VERTEX state (a (rank, wsum)
    struct), the edge table is consumed untouched.
    """
    n = graph.vertex_count()
    if n == 0:
        # empty graph: see page_rank — empty ranking, same schema
        return graph.vertices.select("id", F.lit(0.0).alias("rank"))
    teleport = (1.0 - beta) / n

    wsum = graph.edges.groupBy(F.col("src").alias("id")).agg(
        F.sum(F.col("value").cast("double")).alias("wsum")
    )
    v0 = graph.vertices.select("id").join(wsum, "id", "left")
    g = Graph(v0, graph.edges)

    res = pregel(
        g,
        initial=F.struct(
            F.lit(1.0 / n).alias("rank"),
            F.coalesce(F.col("wsum"), F.lit(0.0)).alias("ws"),
        ),
        msg_to_dst=F.col("src_st")["rank"]
        * F.col("value").cast("double")
        / F.col("src_st")["ws"],
        msg_to_dst_reads=("src",),
        agg=F.sum("__msg").alias("__agg"),
        update=F.struct(
            (
                F.lit(teleport)
                + F.lit(beta) * F.coalesce(F.col("__agg"), F.lit(0.0))
            ).alias("rank"),
            F.col("st")["ws"].alias("ws"),
        ),
        max_iter=max_iter,
        state_col="st",
    )
    out = res.vertices.select("id", F.col("st")["rank"].alias("rank"))
    return out.select("id", F.round("rank", ROUND_TO).alias("rank"))


def weighted_oracle_ctes(
    edges_cte: str, vertices_cte: str, beta: float = BETA, max_iter: int = 10
) -> tuple[str, str]:
    """(extra CTE text, final SELECT) — unrolled weighted PageRank."""
    ctes = [
        f"wpr_w AS MATERIALIZED (SELECT src AS id, SUM(CAST(value AS DOUBLE)) AS ws"
        f" FROM {edges_cte} GROUP BY 1)",
        f"wpr_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM {vertices_cte})",
        f"w0 AS MATERIALIZED (SELECT v.id, 1.0/(SELECT n FROM wpr_n) AS rank"
        f" FROM {vertices_cte} v)",
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""w{i} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {beta!r})/(SELECT n FROM wpr_n)
           + {beta!r} * COALESCE(m.s, 0.0) AS rank
  FROM {vertices_cte} v
  LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank * CAST(e.value AS DOUBLE) / w.ws) AS s
    FROM w{i - 1} r
    JOIN {edges_cte} e ON r.id = e.src
    JOIN wpr_w w ON w.id = e.src
    GROUP BY 1
  ) m ON v.id = m.id
)"""
        )
    final = f"SELECT id, ROUND(rank, {ROUND_TO}) AS rank FROM w{max_iter}"
    return ",\n".join(ctes), final


def personalized_page_rank(
    graph: Graph, seeds: tuple[int, ...], beta: float = BETA, max_iter: int = 10
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SEED SET
    uniformly instead of to all vertices — the standard seed-relative
    relevance ranking (random walk with restart). rank init = 1/|S| on
    seeds, 0 elsewhere; update = beta·Σmsgs + (1-beta)/|S|·[v ∈ S].
    Same scale posture as ``page_rank``: out-degree and the seed flag
    live in the loop-invariant vertex state, the edge table is consumed
    untouched.
    """
    if not seeds:
        raise ValueError(
            "personalized_page_rank needs a non-empty seed set — the "
            "1/|S| restart distribution is undefined for |S| = 0"
        )
    s = float(len(seeds))
    restart = (1.0 - beta) / s

    outdeg = graph.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )
    v0 = graph.vertices.select("id").join(outdeg, "id", "left")
    g = Graph(v0, graph.edges)
    is_seed = F.col("id").isin(*seeds)

    res = pregel(
        g,
        initial=F.struct(
            F.when(is_seed, F.lit(1.0 / s)).otherwise(F.lit(0.0)).alias("rank"),
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("double").alias("od"),
            is_seed.alias("seed"),
        ),
        msg_to_dst=F.col("src_st")["rank"] / F.col("src_st")["od"],
        msg_to_dst_reads=("src",),
        agg=F.sum("__msg").alias("__agg"),
        update=F.struct(
            (
                F.when(F.col("st")["seed"], F.lit(restart)).otherwise(F.lit(0.0))
                + F.lit(beta) * F.coalesce(F.col("__agg"), F.lit(0.0))
            ).alias("rank"),
            F.col("st")["od"].alias("od"),
            F.col("st")["seed"].alias("seed"),
        ),
        max_iter=max_iter,
        state_col="st",
    )
    out = res.vertices.select("id", F.col("st")["rank"].alias("rank"))
    return out.select("id", F.round("rank", ROUND_TO).alias("rank"))


def personalized_oracle_ctes(
    edges_cte: str,
    vertices_cte: str,
    seeds: tuple[int, ...],
    beta: float = BETA,
    max_iter: int = 10,
) -> tuple[str, str]:
    """(extra CTE text, final SELECT) — unrolled PPR power iteration."""
    s = float(len(seeds))
    in_seeds = ", ".join(str(x) for x in seeds)
    ctes = [
        f"ppr_deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE)"
        f" AS outdeg FROM {edges_cte} GROUP BY 1)",
        f"""p0 AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN v.id IN ({in_seeds}) THEN 1.0/{s!r} ELSE 0.0 END AS rank
  FROM {vertices_cte} v)""",
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN v.id IN ({in_seeds})
              THEN (1.0 - {beta!r})/{s!r} ELSE 0.0 END
           + {beta!r} * COALESCE(m.s, 0.0) AS rank
  FROM {vertices_cte} v
  LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / d.outdeg) AS s
    FROM p{i - 1} r
    JOIN {edges_cte} e ON r.id = e.src
    JOIN ppr_deg d ON d.id = e.src
    GROUP BY 1
  ) m ON v.id = m.id
)"""
        )
    final = f"SELECT id, ROUND(rank, {ROUND_TO}) AS rank FROM p{max_iter}"
    return ",\n".join(ctes), final
