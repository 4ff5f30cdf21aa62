"""Query registry — every operator from SURVEY.md §2 as a
(PySpark callable, DuckDB oracle SQL) pair, consumed by
``__spark_entry__.py``.

Conventions (driver contract):
* Each Spark callable takes (spark, sf_dir) and returns a DataFrame.
* Column names and types match the oracle exactly (aggregates cast to
  BIGINT, ratios ROUND(x, 6) on BOTH sides).
* Anything order-dependent (top-k) carries a full deterministic ORDER BY
  with id tie-breaks.
* A registered query's result frame is valid until the next registered
  query begins: the registry owns query scratch, and each begin frees
  every localCheckpoint the previous query left (``_query_begin``).
  Consume a result (collect, write) before calling the next query.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph import EdgeDirection, Graph
from .library import adamic_adar as aa_mod
from .library import community as community_mod
from .library import connected_components as cc_mod
from .library import hits as hits_mod
from .library import kcore as kcore_mod
from .library import jaccard as jaccard_mod
from .library import label_propagation as lpa_mod
from .library import incremental as incr_mod
from .library import matching as match_mod
from .library import mst as mst_mod
from .library import wl as wl_mod
from .library import mis as mis_mod
from .library import sampling as sampling_mod
from .library import betweenness as btw_mod
from .library import coloring as col_mod
from .library import dag as dag_mod
from .library import bipartite as bip_mod
from .library import closeness as closeness_mod
from .library import neighborhood as nf_mod
from .sources import generators as gen_mod
from .library import pagerank as pr_mod
from .library import sssp as sssp_mod
from .plans.checkpoints import release_all_local_checkpoints, scratch_scope
from .plans.reuse import reuse_leaf
from .plans.session import tune_session
from .sources.graphs import (
    CS_EDGES_SQL,
    CS_VERTICES_SQL,
    GOLDEN_EDGES_SQL,
    GOLDEN_SQL,
    PC_EDGES_SQL,
    UU_EDGES_SQL,
    customer_supplier_graph,
    customer_supplier_undirected_graph,
    golden_graph,
    part_copurchase_graph,
    user_cooccurrence_graph,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def _query_begin(spark: SparkSession) -> None:
    """Tune the session and free the PREVIOUS query's scratch before
    this one runs.

    ``tune_session`` runs here, before the query body, so every
    registered query sees the same confs whatever ran before it, and
    no graph builder persists a frame before they are set (the
    ordering contract in its docstring).

    Each query's ``scratch_scope`` already freed every checkpoint its
    result does not read; the ones left are the previous result's state,
    unpersisted here, all of them, with no GC involved
    (``release_all_local_checkpoints``). Left to the ContextCleaner, a
    100-query session accretes hundreds of stale blocks and
    per-superstep cost degrades ~4x by the end of the gate. The
    memoized derived-graph caches in ``_GRAPH_MEMO`` are persisted
    frames, never checkpoints, so they stay resident. Both run in the
    registry wrapper, so every runner (the oracle gates, bench, tests)
    gets the same scratch lifecycle without cooperating.
    """
    tune_session(spark)
    release_all_local_checkpoints(spark)
    _ensure_workers_can_import(spark)


_PYFILE_SENT: set[str] = set()


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package to Python workers once per session.

    Arrow-batched UDFs defined at module level pickle BY REFERENCE
    (cloudpickle serializes importable functions as an import path), so
    the forked Python workers must be able to ``import
    flink_graph_spark``. When the driver process runs from the repo (or
    with it on PYTHONPATH) that is inherited — but a host that imports
    ``__spark_entry__`` via a bare ``sys.path.insert`` from another cwd
    would strand the workers. addPyFile'ing a zip of the package makes
    every registered query self-contained regardless of the host's
    process layout (the realistic cluster story too: this is exactly
    how a spark-submit job ships its libs)."""
    sid = spark.sparkContext.applicationId
    if sid in _PYFILE_SENT:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"flink_graph_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "flink_graph_spark",
                            os.path.relpath(full, pkg_dir),
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _PYFILE_SENT.add(sid)


@contextmanager
def _fixture_partitions(spark: SparkSession, n: int = 4):
    """Size shuffle partitions to a hand-built fixture for the duration
    of an eager iterative loop: 32-partition exchanges on a ≤13-row
    frame are pure scheduler overhead, and fixture queries are nothing
    BUT exchanges (every superstep shuffles). The conf covers the jobs
    run inside the block: the loop's eager checkpoints. A frame the
    block returns lazily is planned at the caller's action, after the
    conf is restored, so the exchanges in its tail over the last
    checkpoint run at the session's partition count (AQE coalesces
    them). A caller whose tail is heavy materializes it inside the
    block, as ``incremental_sssp_golden`` does."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        scoped = scratch_scope(fn)

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _query_begin(spark)
            return scoped(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        SPARK_QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _with(*ctes: str) -> str:
    body = ",\n".join(c.strip() for c in ctes[:-1])
    return f"WITH {body}\n{ctes[-1].strip()}"


def _cs(spark: SparkSession, sf_dir: str) -> Graph:
    return customer_supplier_graph(spark, sf_dir)


# ----------------------------------------------------------------------
# §2.1 construction + §2.5 degrees
# ----------------------------------------------------------------------

@_register(
    "degrees_out",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT v.id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS degree
FROM cs_vertices v
LEFT JOIN (SELECT src AS id, COUNT(*) AS cnt FROM cs_edges GROUP BY 1) d
  ON v.id = d.id""",
    ),
)
def degrees_out(spark, sf_dir):
    return _cs(spark, sf_dir).out_degrees()


@_register(
    "degrees_in",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT v.id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS degree
FROM cs_vertices v
LEFT JOIN (SELECT dst AS id, COUNT(*) AS cnt FROM cs_edges GROUP BY 1) d
  ON v.id = d.id""",
    ),
)
def degrees_in(spark, sf_dir):
    return _cs(spark, sf_dir).in_degrees()


@_register(
    "degrees_total",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT v.id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS degree
FROM cs_vertices v
LEFT JOIN (
  SELECT id, COUNT(*) AS cnt FROM (
    SELECT src AS id FROM cs_edges
    UNION ALL
    SELECT dst AS id FROM cs_edges
  ) GROUP BY 1
) d ON v.id = d.id""",
    ),
)
def degrees_total(spark, sf_dir):
    return _cs(spark, sf_dir).degrees()


@_register(
    "top_degree_vertices",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT id, degree FROM (
  SELECT v.id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS degree
  FROM cs_vertices v
  LEFT JOIN (
    SELECT id, COUNT(*) AS cnt FROM (
      SELECT src AS id FROM cs_edges
      UNION ALL
      SELECT dst AS id FROM cs_edges
    ) GROUP BY 1
  ) d ON v.id = d.id
) ORDER BY degree DESC, id ASC LIMIT 20""",
    ),
)
def top_degree_vertices(spark, sf_dir):
    return (
        _cs(spark, sf_dir)
        .degrees()
        .orderBy(F.desc("degree"), F.asc("id"))
        .limit(20)
    )


@_register(
    "vertex_metrics_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """vm_deg AS MATERIALIZED (
  SELECT v.id,
         CAST(COALESCE(o.cnt, 0) AS BIGINT) AS od,
         CAST(COALESCE(i.cnt, 0) AS BIGINT) AS idg
  FROM cs_vertices v
  LEFT JOIN (SELECT src AS id, COUNT(*) AS cnt FROM cs_edges GROUP BY 1) o
    ON v.id = o.id
  LEFT JOIN (SELECT dst AS id, COUNT(*) AS cnt FROM cs_edges GROUP BY 1) i
    ON v.id = i.id
)""",
        """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cs_vertices) AS n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cs_edges) AS n_edges,
       MAX(od) AS max_out_degree,
       MAX(idg) AS max_in_degree,
       MAX(od + idg) AS max_degree,
       CAST(SUM((od + idg) * (od + idg - 1) // 2) AS BIGINT) AS n_wedges
FROM vm_deg""",
    ),
)
def vertex_metrics_cs(spark, sf_dir):
    """Gelly-successor VertexMetrics (directed): per-direction degree
    maxima plus the wedge/triplet count Σ C(deg,2) — the denominator of
    global clustering. One degree pass + one global agg (the per-vertex
    C(d,2) is computed inside the partial agg, so the shuffle carries
    one row per partition)."""
    g = _cs(spark, sf_dir)
    # direct aggs over the cached edge table rather than joining the
    # out_degrees()/in_degrees() frames (each of which re-derives the
    # vertex set — the composed plan carried 82 exchanges cold vs 8
    # here; warm-cache runtime was fine either way, but the plan should
    # be the one you'd want)
    e = g.edges
    o = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("od")
    )
    i = e.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").cast("long").alias("idg")
    )
    deg = (
        g.vertices.select("id")
        .join(o, "id", "left")
        .join(i, "id", "left")
        .select(
            "id",
            F.coalesce("od", F.lit(0)).alias("od"),
            F.coalesce("idg", F.lit(0)).alias("idg"),
        )
    )
    m = deg.agg(
        F.count("*").alias("n_vertices"),
        F.max("od").alias("max_out_degree"),
        F.max("idg").alias("max_in_degree"),
        F.max(F.col("od") + F.col("idg")).alias("max_degree"),
        # integer DIV, not /2-then-cast: d*(d-1) is always even, so
        # floordiv is exact, and the sum stays in long arithmetic —
        # a double SUM loses exactness past 2^53 total wedges, silently
        # breaking oracle parity at real-graph scale
        F.sum(F.expr("(od + idg) * (od + idg - 1) div 2"))
        .cast("long")
        .alias("n_wedges"),
    )
    n_e = g.edges.count()
    return m.select(
        "n_vertices",
        F.lit(n_e).cast("long").alias("n_edges"),
        "max_out_degree",
        "max_in_degree",
        "max_degree",
        "n_wedges",
    )


@_register(
    "graph_metrics",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """deg AS (
  SELECT v.id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS degree
  FROM cs_vertices v
  LEFT JOIN (
    SELECT id, COUNT(*) AS cnt FROM (
      SELECT src AS id FROM cs_edges
      UNION ALL
      SELECT dst AS id FROM cs_edges
    ) GROUP BY 1
  ) d ON v.id = d.id
)""",
        """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cs_vertices) AS n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cs_edges) AS n_edges,
       ROUND(AVG(degree), 6) AS avg_degree,
       MAX(degree) AS max_degree
FROM deg""",
    ),
)
def graph_metrics(spark, sf_dir):
    """Reference example GraphMetrics.java: counts + avg/max degree."""
    g = _cs(spark, sf_dir)
    deg = g.degrees()
    m1 = deg.agg(
        F.count("*").alias("n_vertices"),
        F.round(F.avg("degree"), 6).alias("avg_degree"),
        F.max("degree").alias("max_degree"),
    )
    m2 = g.edges.agg(F.count("*").alias("n_edges"))
    return m1.crossJoin(m2).select(
        "n_vertices", "n_edges", "avg_degree", "max_degree"
    )


# ----------------------------------------------------------------------
# §2.2 transforms
# ----------------------------------------------------------------------

@_register(
    "map_vertices",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        "SELECT id, value * 2 AS value FROM cs_vertices",
    ),
)
def map_vertices(spark, sf_dir):
    return _cs(spark, sf_dir).map_vertices(F.col("value") * 2).vertices


@_register(
    "map_edges",
    _with(
        CS_EDGES_SQL,
        "SELECT src, dst, value * 10 AS value FROM cs_edges",
    ),
)
def map_edges(spark, sf_dir):
    return _cs(spark, sf_dir).map_edges(F.col("value") * 10).edges


@_register(
    "reverse_edges",
    _with(
        CS_EDGES_SQL,
        "SELECT dst AS src, src AS dst, value FROM cs_edges",
    ),
)
def reverse_edges(spark, sf_dir):
    return _cs(spark, sf_dir).reverse().edges


@_register(
    "undirected_edges",
    _with(
        CS_EDGES_SQL,
        """SELECT src, dst, value FROM cs_edges
UNION ALL
SELECT dst AS src, src AS dst, value FROM cs_edges""",
    ),
)
def undirected_edges(spark, sf_dir):
    return _cs(spark, sf_dir).get_undirected().edges


# ----------------------------------------------------------------------
# §2.3 subgraph / filters
# ----------------------------------------------------------------------

@_register(
    "subgraph_edges",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        "sg_v AS (SELECT * FROM cs_vertices WHERE value % 2 = 0)",
        """SELECT e.src, e.dst, e.value
FROM cs_edges e
JOIN sg_v a ON e.src = a.id
JOIN sg_v b ON e.dst = b.id
WHERE e.value >= 2""",
    ),
)
def subgraph_edges(spark, sf_dir):
    g = _cs(spark, sf_dir).subgraph(
        F.col("value") % 2 == 0, F.col("value") >= 2
    )
    return g.edges


@_register(
    "subgraph_vertices",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        "SELECT id, value FROM cs_vertices WHERE value % 2 = 0",
    ),
)
def subgraph_vertices(spark, sf_dir):
    g = _cs(spark, sf_dir).subgraph(
        F.col("value") % 2 == 0, F.col("value") >= 2
    )
    return g.vertices


@_register(
    "filter_on_edges",
    _with(
        CS_EDGES_SQL,
        "SELECT src, dst, value FROM cs_edges WHERE value >= 3",
    ),
)
def filter_on_edges(spark, sf_dir):
    return _cs(spark, sf_dir).filter_on_edges(F.col("value") >= 3).edges


@_register(
    "filter_on_vertices_edges",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        "sg_v AS (SELECT * FROM cs_vertices WHERE value % 3 <> 0)",
        """SELECT e.src, e.dst, e.value
FROM cs_edges e
JOIN sg_v a ON e.src = a.id
JOIN sg_v b ON e.dst = b.id""",
    ),
)
def filter_on_vertices_edges(spark, sf_dir):
    return _cs(spark, sf_dir).filter_on_vertices(F.col("value") % 3 != 0).edges


# ----------------------------------------------------------------------
# §2.4 joins
# ----------------------------------------------------------------------

@_register(
    "join_with_vertices",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT v.id,
       CASE WHEN c.c_custkey IS NOT NULL
            THEN v.value * 100 + CAST(c.c_nationkey AS BIGINT)
            ELSE v.value END AS value
FROM cs_vertices v
LEFT JOIN customer c ON v.id = c.c_custkey""",
    ),
)
def join_with_vertices(spark, sf_dir):
    g = _cs(spark, sf_dir)
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    other = customer.select(
        F.col("c_custkey").alias("id"), F.col("c_nationkey").cast("long").alias("t")
    )
    return g.join_with_vertices(other, lambda v, t: v * 100 + t).vertices


@_register(
    "join_with_edges",
    _with(
        CS_EDGES_SQL,
        """SELECT e.src, e.dst,
       CASE WHEN o.src IS NOT NULL THEN e.value * 1000 + o.t
            ELSE e.value END AS value
FROM cs_edges e
LEFT JOIN (SELECT src, dst, value AS t FROM cs_edges WHERE value >= 2) o
  ON e.src = o.src AND e.dst = o.dst""",
    ),
)
def join_with_edges(spark, sf_dir):
    g = _cs(spark, sf_dir)
    other = g.edges.filter(F.col("value") >= 2).select(
        "src", "dst", F.col("value").alias("t")
    )
    return g.join_with_edges(other, lambda v, t: v * 1000 + t).edges


@_register(
    "join_with_edges_on_source",
    _with(
        CS_EDGES_SQL,
        """SELECT e.src, e.dst,
       CASE WHEN c.c_custkey IS NOT NULL
            THEN e.value * 100 + CAST(c.c_nationkey AS BIGINT)
            ELSE e.value END AS value
FROM cs_edges e
LEFT JOIN customer c ON e.src = c.c_custkey""",
    ),
)
def join_with_edges_on_source(spark, sf_dir):
    g = _cs(spark, sf_dir)
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    other = customer.select(
        F.col("c_custkey").alias("id"), F.col("c_nationkey").cast("long").alias("t")
    )
    return g.join_with_edges_on_source(other, lambda v, t: v * 100 + t).edges


@_register(
    "join_with_edges_on_target",
    _with(
        CS_EDGES_SQL,
        """SELECT e.src, e.dst,
       CASE WHEN s.s_suppkey IS NOT NULL
            THEN e.value * 100 + CAST(s.s_nationkey AS BIGINT)
            ELSE e.value END AS value
FROM cs_edges e
LEFT JOIN supplier s ON e.dst = s.s_suppkey + 1000000""",
    ),
)
def join_with_edges_on_target(spark, sf_dir):
    g = _cs(spark, sf_dir)
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    other = supplier.select(
        (F.col("s_suppkey") + F.lit(1000000)).alias("id"),
        F.col("s_nationkey").cast("long").alias("t"),
    )
    return g.join_with_edges_on_target(other, lambda v, t: v * 100 + t).edges


@_register(
    "triplets",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT e.src, e.dst, e.value, a.value AS src_value, b.value AS dst_value
FROM cs_edges e
JOIN cs_vertices a ON e.src = a.id
JOIN cs_vertices b ON e.dst = b.id""",
    ),
)
def triplets(spark, sf_dir):
    return _cs(spark, sf_dir).triplets()


# ----------------------------------------------------------------------
# §2.5 neighborhood aggregations
# ----------------------------------------------------------------------

@_register(
    "reduce_on_edges_out",
    _with(
        CS_EDGES_SQL,
        """SELECT src AS id, CAST(SUM(value) AS BIGINT) AS sum_w,
       MAX(value) AS max_w, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM cs_edges GROUP BY 1""",
    ),
)
def reduce_on_edges_out(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_edges(
        [
            F.sum("value").alias("sum_w"),
            F.max("value").alias("max_w"),
            F.count("*").alias("n_edges"),
        ],
        EdgeDirection.OUT,
    )


@_register(
    "reduce_on_edges_in",
    _with(
        CS_EDGES_SQL,
        """SELECT dst AS id, CAST(SUM(value) AS BIGINT) AS sum_w,
       MIN(value) AS min_w, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM cs_edges GROUP BY 1""",
    ),
)
def reduce_on_edges_in(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_edges(
        [
            F.sum("value").alias("sum_w"),
            F.min("value").alias("min_w"),
            F.count("*").alias("n_edges"),
        ],
        EdgeDirection.IN,
    )


@_register(
    "reduce_on_edges_all",
    _with(
        CS_EDGES_SQL,
        """SELECT id, CAST(SUM(value) AS BIGINT) AS sum_w,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM (
  SELECT src AS id, value FROM cs_edges
  UNION ALL
  SELECT dst AS id, value FROM cs_edges
) GROUP BY 1""",
    ),
)
def reduce_on_edges_all(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_edges(
        [F.sum("value").alias("sum_w"), F.count("*").alias("n_edges")],
        EdgeDirection.ALL,
    )


@_register(
    "reduce_on_neighbors_out",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT e.src AS id, CAST(SUM(v.value) AS BIGINT) AS sum_nbr
FROM cs_edges e JOIN cs_vertices v ON e.dst = v.id
GROUP BY 1""",
    ),
)
def reduce_on_neighbors_out(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_neighbors(
        [F.sum("nbr_value").alias("sum_nbr")], EdgeDirection.OUT
    )


@_register(
    "reduce_on_edges_with_vv",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT v.id, v.value,
       CAST(d.sum_w AS BIGINT) AS sum_w, CAST(d.n_edges AS BIGINT) AS n_edges
FROM cs_vertices v
LEFT JOIN (
  SELECT src AS id, SUM(value) AS sum_w, COUNT(*) AS n_edges
  FROM cs_edges GROUP BY 1
) d ON v.id = d.id""",
    ),
)
def reduce_on_edges_with_vv(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_edges_with_vertex_value(
        [F.sum("value").alias("sum_w"), F.count("*").alias("n_edges")],
        EdgeDirection.OUT,
    )


@_register(
    "reduce_on_neighbors_with_vv",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT v.id, v.value, CAST(d.sum_nbr AS BIGINT) AS sum_nbr
FROM cs_vertices v
LEFT JOIN (
  SELECT e.src AS id, SUM(n.value) AS sum_nbr
  FROM cs_edges e JOIN cs_vertices n ON e.dst = n.id
  GROUP BY 1
) d ON v.id = d.id""",
    ),
)
def reduce_on_neighbors_with_vv(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_neighbors_with_vertex_value(
        [F.sum("nbr_value").alias("sum_nbr")], EdgeDirection.OUT
    )


@_register(
    "reduce_on_neighbors_all",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT id, CAST(SUM(nv) AS BIGINT) AS sum_nbr,
       CAST(COUNT(*) AS BIGINT) AS n_nbr
FROM (
  SELECT e.src AS id, v.value AS nv
  FROM cs_edges e JOIN cs_vertices v ON e.dst = v.id
  UNION ALL
  SELECT e.dst AS id, v.value AS nv
  FROM cs_edges e JOIN cs_vertices v ON e.src = v.id
) GROUP BY 1""",
    ),
)
def reduce_on_neighbors_all(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_neighbors(
        [F.sum("nbr_value").alias("sum_nbr"), F.count("*").alias("n_nbr")],
        EdgeDirection.ALL,
    )


@_register(
    "reduce_on_neighbors_in",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT e.dst AS id, CAST(MIN(v.value) AS BIGINT) AS min_nbr
FROM cs_edges e JOIN cs_vertices v ON e.src = v.id
GROUP BY 1""",
    ),
)
def reduce_on_neighbors_in(spark, sf_dir):
    return _cs(spark, sf_dir).reduce_on_neighbors(
        [F.min("nbr_value").alias("min_nbr")], EdgeDirection.IN
    )


# ----------------------------------------------------------------------
# §2.6 mutations / set ops
# ----------------------------------------------------------------------

@_register(
    "union_graphs",
    _with(
        CS_EDGES_SQL,
        "ea AS (SELECT * FROM cs_edges WHERE value >= 2)",
        "eb AS (SELECT * FROM cs_edges WHERE src % 3 = 0)",
        """uv AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM ea UNION SELECT dst FROM ea
    UNION
    SELECT src AS id FROM eb UNION SELECT dst FROM eb
  )
)""",
        """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uv) AS n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM (SELECT * FROM ea UNION ALL SELECT * FROM eb)) AS n_edges""",
    ),
)
def union_graphs(spark, sf_dir):
    g = _cs(spark, sf_dir)
    ga = Graph.from_edges(g.edges.filter(F.col("value") >= 2))
    gb = Graph.from_edges(g.edges.filter(F.col("src") % 3 == 0))
    u = ga.union(gb)
    m1 = u.vertices.agg(F.count("*").alias("n_vertices"))
    m2 = u.edges.agg(F.count("*").alias("n_edges"))
    return m1.crossJoin(m2)


@_register(
    "golden_mutations",
    _with(
        GOLDEN_EDGES_SQL,
        """ge2 AS (
  SELECT * FROM golden_edges
  UNION ALL
  SELECT CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(61 AS BIGINT)
)""",
        """SELECT src, dst, value FROM ge2
WHERE src <> 3 AND dst <> 3 AND NOT (src = 5 AND dst = 1)""",
    ),
)
def golden_mutations(spark, sf_dir):
    g = golden_graph(spark)
    g = g.add_vertex((6, 6), [(6, 1, 61)])
    g = g.remove_vertex(3)
    g = g.remove_edge(5, 1)
    return g.edges


@_register(
    "intersect_graphs",
    _with(
        CS_EDGES_SQL,
        "SELECT DISTINCT src, dst, value FROM cs_edges WHERE value >= 2",
    ),
)
def intersect_graphs(spark, sf_dir):
    """Graph.intersect (extension; Gelly-successor op): edges present in
    both inputs matched on (src, dst, value) via LEFT SEMI join.
    """
    g = _cs(spark, sf_dir)
    other = g.filter_on_edges(F.col("value") >= 2)
    return g.intersect(other).edges


@_register(
    "difference_graphs",
    _with(
        CS_EDGES_SQL,
        """SELECT src, dst, value FROM cs_edges
WHERE src % 3 <> 0 AND dst % 3 <> 0""",
    ),
)
def difference_graphs(spark, sf_dir):
    """Graph.difference (extension): bulk vertex removal by ANTI join —
    drops the other graph's vertex ids and their incident edges.
    """
    g = _cs(spark, sf_dir)
    other = g.filter_on_vertices(F.col("id") % 3 == 0)
    return g.difference(other).edges


# ----------------------------------------------------------------------
# §2.8 validation
# ----------------------------------------------------------------------

@_register(
    "validate_vertex_ids",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """SELECT ((SELECT COUNT(*) FROM (
  (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges)
  EXCEPT
  (SELECT id FROM cs_vertices)
)) = 0) AS valid""",
    ),
)
def validate_vertex_ids(spark, sf_dir):
    g = _cs(spark, sf_dir)
    return g.invalid_edge_endpoints().agg(
        (F.count("*") == F.lit(0)).alias("valid")
    )


# ----------------------------------------------------------------------
# §2.7 iterative algorithms — golden fixture (exact small-graph checks)
# ----------------------------------------------------------------------

def _golden_algo_sql(algo_ctes: tuple[str, str]) -> str:
    ctes, final = algo_ctes
    return _with(GOLDEN_SQL, ctes, final)


@_register(
    "sssp_golden",
    _golden_algo_sql(sssp_mod.oracle_ctes("golden_edges", "golden_vertices", 1, 5)),
)
def sssp_golden(spark, sf_dir):
    return sssp_mod.shortest_paths(golden_graph(spark), 1, max_iter=5)


@_register(
    "incremental_sssp_golden",
    _with(
        GOLDEN_SQL,
        "inc_edges AS (SELECT * FROM golden_edges"
        " WHERE NOT (src = 3 AND dst = 5))",
        *sssp_mod.oracle_ctes("inc_edges", "golden_vertices", 1, 5),
    ),
)
def incremental_sssp_golden(spark, sf_dir):
    """Incremental SSSP maintenance: remove edge (3,5) from the golden
    fixture and repair the prior result via tight-DAG invalidation +
    delta Bellman-Ford. The ORACLE is a full recompute on the modified
    edges — the incremental path must land on the identical answer
    (vertex 5 reroutes 48 → 92 via 4)."""
    from .library import incremental as inc_mod

    # Three sequential delta Pregels (prior SSSP, tight-DAG reach,
    # delta repair) over 5 vertices: the query's cost is ~10 supersteps
    # of pure exchange scheduling, so size the shuffle to the fixture.
    with _fixture_partitions(spark):
        g = golden_graph(spark)
        prior = sssp_mod.shortest_paths(g, 1, max_iter=5)
        return inc_mod.incremental_sssp_remove_edge(
            g, prior, 1, 3, 5, max_iter=5
        ).localCheckpoint(eager=True)


@_register(
    "cc_golden",
    _golden_algo_sql(cc_mod.oracle_ctes("golden_edges", "golden_vertices", 5)),
)
def cc_golden(spark, sf_dir):
    return cc_mod.connected_components(golden_graph(spark), max_iter=5)


@_register(
    "is_weakly_connected_golden",
    _with(
        GOLDEN_SQL,
        cc_mod.oracle_ctes("golden_edges", "golden_vertices", 5)[0],
        cc_mod.connected_oracle_final(5),
    ),
)
def is_weakly_connected_golden(spark, sf_dir):
    return cc_mod.is_weakly_connected(golden_graph(spark), max_iter=5)


@_register(
    "pagerank_golden",
    _golden_algo_sql(
        pr_mod.oracle_ctes("golden_edges", "golden_vertices", 0.85, 10)
    ),
)
def pagerank_golden(spark, sf_dir):
    return pr_mod.page_rank(golden_graph(spark), beta=0.85, max_iter=10)


@_register(
    "lpa_golden",
    _with(
        GOLDEN_SQL,
        """golden_ue AS (
  SELECT src, dst FROM golden_edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM golden_edges
)""",
        *lpa_mod.oracle_ctes("golden_ue", "golden_vertices", 5),
    ),
)
def lpa_golden(spark, sf_dir):
    g = golden_graph(spark).get_undirected()
    return lpa_mod.label_propagation(g, max_iter=5)


# ----------------------------------------------------------------------
# §2.7 iterative algorithms — customer–supplier graph (sf-scaled)
# ----------------------------------------------------------------------

@_register(
    "pagerank_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        *pr_mod.oracle_ctes("cs_edges", "cs_vertices", 0.85, 10),
    ),
)
def pagerank_cs(spark, sf_dir):
    return pr_mod.page_rank(_cs(spark, sf_dir), beta=0.85, max_iter=10)


@_register(
    "pagerank_bucketed_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        *pr_mod.oracle_ctes("cs_edges", "cs_vertices", 0.85, 10),
    ),
)
def pagerank_bucketed_cs(spark, sf_dir):
    """PageRank over the SAME cs graph read back from a src-bucketed
    parquet table (write_edges_bucketed round trip) — proves the
    at-rest bucketed posture end-to-end through a full iterative
    algorithm: identical ranks to pagerank_cs (same oracle), with the
    edge side of every superstep's message join pre-partitioned by the
    bucketed scan instead of a transient repartition (plan-asserted in
    tests/test_plans.py: zero Exchange above the edge scan)."""
    from .sources.graphs import customer_supplier_bucketed_graph

    return pr_mod.page_rank(
        customer_supplier_bucketed_graph(spark, sf_dir), beta=0.85, max_iter=10
    )


@_register(
    "sssp_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """cs_ue AS (
  SELECT src, dst, value FROM cs_edges
  UNION ALL
  SELECT dst AS src, src AS dst, value FROM cs_edges
)""",
        *sssp_mod.oracle_ctes("cs_ue", "cs_vertices", 1, 6),
    ),
)
def sssp_cs(spark, sf_dir):
    g = customer_supplier_undirected_graph(spark, sf_dir)
    return sssp_mod.shortest_paths(g, 1, max_iter=6)


@_register(
    "cc_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        *cc_mod.oracle_ctes("cs_edges", "cs_vertices", 8),
    ),
)
def cc_cs(spark, sf_dir):
    # the shared persisted symmetrized table (cs_und) IS the doubled
    # edge set CC's undirected view needs — single-sided messaging over
    # it costs zero per-query edge materialization (r10; same vertex
    # set and oracle as the directed graph)
    return cc_mod.connected_components(
        customer_supplier_undirected_graph(spark, sf_dir),
        max_iter=8,
        symmetrized_edges=True,
    )


@_register(
    "lpa_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        """cs_ue AS (
  SELECT src, dst FROM cs_edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM cs_edges
)""",
        *lpa_mod.oracle_ctes("cs_ue", "cs_vertices", 4),
    ),
)
def lpa_cs(spark, sf_dir):
    g = customer_supplier_undirected_graph(spark, sf_dir)
    return lpa_mod.label_propagation(g, max_iter=4)


# ----------------------------------------------------------------------
# §2.9 Jaccard similarity (part co-purchase graph)
# ----------------------------------------------------------------------

@_register(
    "weighted_pagerank_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        *pr_mod.weighted_oracle_ctes("cs_edges", "cs_vertices", 0.85, 10),
    ),
)
def weighted_pagerank_cs(spark, sf_dir):
    return pr_mod.weighted_page_rank(_cs(spark, sf_dir), beta=0.85, max_iter=10)


@_register(
    "degree_histogram",
    _with(
        CS_EDGES_SQL,
        """dh_deg AS MATERIALIZED (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT src AS id FROM cs_edges
    UNION ALL
    SELECT dst AS id FROM cs_edges
  ) GROUP BY 1
)""",
        """SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(MIN(degree) AS BIGINT) AS min_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree
FROM dh_deg GROUP BY 1 ORDER BY 1""",
    ),
)
def degree_histogram(spark, sf_dir):
    """Log2-bucketed total-degree histogram (power-law shape probe).
    Bucket = bit-length of the degree minus 1 (integer arithmetic via
    binary-string length on BOTH engines — no float log2 edge cases)."""
    g = _cs(spark, sf_dir)
    deg = g.degrees()
    return (
        deg.select(
            (
                F.length(F.conv(F.col("degree").cast("string"), 10, 2)) - 1
            ).cast("bigint").alias("log2_bucket"),
            "degree",
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_vertices"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )


@_register(
    "hits_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        *hits_mod.oracle_ctes("cs_edges", "cs_vertices", 5),
    ),
)
def hits_cs(spark, sf_dir):
    return hits_mod.hits(_cs(spark, sf_dir), max_iter=5)


@_register(
    "jaccard_part_copurchase",
    _with(
        PC_EDGES_SQL,
        *jaccard_mod.oracle_ctes("pc_edges"),
    ),
)
def jaccard_part_copurchase(spark, sf_dir):
    g = part_copurchase_graph(spark, sf_dir)
    return jaccard_mod.jaccard_similarity(g)


# ----------------------------------------------------------------------
# user–user co-occurrence graph (FIXTURES C.2)
# ----------------------------------------------------------------------

@_register(
    "uu_graph_edges",
    _with(UU_EDGES_SQL, "SELECT src, dst, value FROM uu_edges"),
)
def uu_graph_edges(spark, sf_dir):
    return user_cooccurrence_graph(spark, sf_dir).edges


@_register(
    "adamic_adar_pc",
    _with(
        PC_EDGES_SQL,
        *aa_mod.oracle_ctes("pc_edges"),
    ),
)
def adamic_adar_pc(spark, sf_dir):
    g = part_copurchase_graph(spark, sf_dir)
    return aa_mod.adamic_adar(g)


@_register(
    "mis_uu",
    _with(
        UU_EDGES_SQL,
        """uu_vertices AS MATERIALIZED (
  SELECT id FROM (
    SELECT src AS id FROM uu_edges UNION SELECT dst AS id FROM uu_edges
  )
)""",
        *mis_mod.oracle_ctes("uu_edges", "uu_vertices", 6),
    ),
)
def mis_uu(spark, sf_dir):
    g = user_cooccurrence_graph(spark, sf_dir)
    return mis_mod.maximal_independent_set(g, max_iter=6)


@_register(
    "community_detection_uu",
    _with(
        UU_EDGES_SQL,
        """uu_ue AS MATERIALIZED (
  SELECT src, dst, value FROM uu_edges
  UNION ALL
  SELECT dst AS src, src AS dst, value FROM uu_edges
)""",
        """cd_vertices AS MATERIALIZED (
  SELECT id FROM (
    SELECT src AS id FROM uu_edges UNION SELECT dst AS id FROM uu_edges
  )
)""",
        *community_mod.oracle_ctes("uu_ue", "cd_vertices", 4),
    ),
)
def community_detection_uu(spark, sf_dir):
    """Hop-attenuated label-score community detection (Leung et al. /
    Gelly CommunityDetection): delta=0.5 keeps every score a dyadic
    rational so the argmax is bit-exact across engines."""
    g = user_cooccurrence_graph(spark, sf_dir)
    return community_mod.community_detection(g, max_iter=4)


@_register(
    "random_walks_uu",
    _with(
        UU_EDGES_SQL,
        """rw_vertices AS MATERIALIZED (
  SELECT id FROM (
    SELECT src AS id FROM uu_edges UNION SELECT dst AS id FROM uu_edges
  )
)""",
        *sampling_mod.oracle_ctes("uu_edges", "rw_vertices", 3),
    ),
)
def random_walks_uu(spark, sf_dir):
    g = user_cooccurrence_graph(spark, sf_dir)
    return sampling_mod.random_walks(g, length=3)


@_register(
    "kcore_uu",
    _with(
        UU_EDGES_SQL,
        *kcore_mod.oracle_ctes("uu_edges", 4, 8),
    ),
)
def kcore_uu(spark, sf_dir):
    g = user_cooccurrence_graph(spark, sf_dir)
    return kcore_mod.k_core(g, k=4, max_iter=8)


# ======================================================================
# North-star extensions (SURVEY.md §2.10): text analysis, dedup,
# similarity search, event analytics, multimodal plumbing
# ======================================================================

from .functions import asof as asof_mod  # noqa: E402
from .functions import dedup as dedup_mod  # noqa: E402
from .functions import multimodal as mm_mod  # noqa: E402
from .functions import packing as pack_mod  # noqa: E402
from .functions import sessions as sess_mod  # noqa: E402
from .functions import similarity as sim_mod  # noqa: E402
from .functions import text as text_mod  # noqa: E402
from .functions import bpe as bpe_mod  # noqa: E402
from .functions import entity as ent_mod  # noqa: E402
from .sources.tables import load_table, table_rows  # noqa: E402


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ---- text analysis ----------------------------------------------------

@_register("text_stats", _with(text_mod.DOC_TOK_SQL, text_mod.TEXT_STATS_SQL))
def text_stats(spark, sf_dir):
    return text_mod.text_stats(_docs(spark, sf_dir))


@_register(
    "token_counts", _with(text_mod.DOC_TOK_SQL, text_mod.TOKEN_COUNTS_SQL)
)
def token_counts(spark, sf_dir):
    return text_mod.token_counts(_docs(spark, sf_dir))


@_register(
    "quality_score", _with(text_mod.DOC_TOK_SQL, text_mod.QUALITY_SCORE_SQL)
)
def quality_score(spark, sf_dir):
    return text_mod.quality_score(_docs(spark, sf_dir))


@_register(
    "repetition_ratio",
    _with(text_mod.DOC_TOK_SQL, text_mod.REPETITION_RATIO_SQL),
)
def repetition_ratio(spark, sf_dir):
    """Gopher/RefinedWeb-style repetition signal: duplicate 3-gram
    fraction per document."""
    return text_mod.repetition_ratio(_docs(spark, sf_dir))


@_register("lang_id", _with(text_mod.DOC_TOK_SQL, *text_mod.lang_id_sql()))
def lang_id(spark, sf_dir):
    return text_mod.lang_id(spark, _docs(spark, sf_dir))


@_register(
    "doc_fingerprint",
    _with(text_mod.DOC_TOK_SQL, text_mod.DOC_FINGERPRINT_SQL),
)
def doc_fingerprint(spark, sf_dir):
    return text_mod.doc_fingerprint(_docs(spark, sf_dir))


@_register(
    "corpus_prep",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.lang_id_sql()[0],
        *text_mod.corpus_prep_sql(),
    ),
)
def corpus_prep(spark, sf_dir):
    """Composite LLM-corpus pipeline: quality filter → lang ID →
    fingerprint dedup → manifest."""
    return text_mod.corpus_prep(spark, _docs(spark, sf_dir))


# ---- deduplication ----------------------------------------------------

@_register("dedup_exact_stats", dedup_mod.DEDUP_EXACT_STATS_SQL)
def dedup_exact_stats(spark, sf_dir):
    return dedup_mod.dedup_exact_stats(_docs(spark, sf_dir))


@_register(
    "dedup_exact", _with(dedup_mod.DD_SQL, dedup_mod.DEDUP_EXACT_SQL)
)
def dedup_exact(spark, sf_dir):
    return dedup_mod.dedup_exact(
        dedup_mod.with_synthetic_dups(_docs(spark, sf_dir))
    )


@_register(
    "dedup_ngram_topk",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.PAIR_JACCARD_CAPPED_SQL,
        dedup_mod.DEDUP_NGRAM_TOPK_SQL,
    ),
)
def dedup_ngram_topk(spark, sf_dir):
    return dedup_mod.dedup_ngram_topk(_docs(spark, sf_dir))


@_register(
    "dedup_minhash_lsh",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.PAIR_JACCARD_SQL,
        dedup_mod.minhash_sql_parts(),
        dedup_mod.DEDUP_MINHASH_SQL,
    ),
)
def dedup_minhash_lsh(spark, sf_dir):
    return dedup_mod.dedup_minhash_lsh(_docs(spark, sf_dir))


@_register(
    "dedup_clusters",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.PAIR_JACCARD_SQL,
        dedup_mod.minhash_sql_parts(),
        *dedup_mod.dedup_clusters_sql(4),
    ),
)
def dedup_clusters(spark, sf_dir):
    """Corpus-dedup endgame: LSH pairs → near-dup graph → connected
    components → (doc_id, cluster representative)."""
    return dedup_mod.dedup_clusters(_docs(spark, sf_dir))


@_register(
    "dedup_keep_set",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.PAIR_JACCARD_SQL,
        dedup_mod.minhash_sql_parts(),
        dedup_mod.dedup_clusters_sql(4)[0],
        dedup_mod.dedup_keep_sql(4),
    ),
)
def dedup_keep_set(spark, sf_dir):
    """The kept corpus after near-dup collapse, with survival
    provenance ('unique' / 'representative')."""
    return dedup_mod.dedup_keep_set(_docs(spark, sf_dir))


@_register(
    "simhash_docs",
    _with(
        text_mod.DOC_TOK_SQL,
        dedup_mod.SIMHASH_CTES_SQL,
        dedup_mod.SIMHASH_FINAL_SQL,
    ),
)
def simhash_docs(spark, sf_dir):
    return dedup_mod.simhash(_docs(spark, sf_dir))


# ---- similarity search ------------------------------------------------

@_register("embedding_near_dup", sim_mod.embedding_near_dup_sql(0.4))
def embedding_near_dup(spark, sf_dir):
    return sim_mod.embedding_near_dup(_emb(spark, sf_dir), threshold=0.4)


@_register("ann_topk_bruteforce", sim_mod.ann_topk_sql(64, 10))
def ann_topk_bruteforce(spark, sf_dir):
    """64-query batch (was 5 until round 6): at a 5-query batch the
    shared scan/cast floor dominates and index-vs-scan marginal costs
    are invisible — 64 is a realistic serving batch and is what the
    ANN paths are sized against (see functions/similarity.py)."""
    return sim_mod.ann_topk_bruteforce(_emb(spark, sf_dir), 64, 10)


@_register("ann_topk_lsh", sim_mod.ann_topk_lsh_sql(64, 10))
def ann_topk_lsh(spark, sf_dir):
    """Approximate vs the exact top-k (recall-gated) but deterministic
    in itself — the seeded sparse sign-plane bank, the 124-bit packed
    signatures, and the adaptive Hamming cut from COUNT(*) are all
    replayed by the DuckDB twin, so the whole sketch-prefilter
    pipeline is hash-checked (functions/similarity.py section
    comment has the design + measured recall/cost)."""
    emb = _emb(spark, sf_dir)
    cut = sim_mod.ann_cut_for(table_rows(spark, sf_dir, "embeddings"))
    return sim_mod.ann_topk_lsh(emb, 64, 10, cut=cut)


@_register("ann_topk_ivf", sim_mod.ann_topk_ivf_sql(64, 10))
def ann_topk_ivf(spark, sf_dir):
    """Approximate vs the exact top-k (recall-gated) but deterministic
    in itself at the registered train_iters=0: the centroids are the
    seed vectors, so the DuckDB twin replays assignment, probing and
    ranking bit-identically — the whole IVF pipeline is hash-checked."""
    emb = _emb(spark, sf_dir)
    nlist, nprobe = sim_mod.ivf_params_for(table_rows(spark, sf_dir, "embeddings"))
    return sim_mod.ann_topk_ivf(emb, 64, 10, nlist=nlist, nprobe=nprobe)


# (applicationId, sf tag) -> _ann_at_rest_tables' tuple. Its sig_count
# assumes the at-rest tables are never rewritten within a session: a
# refresh path that rewrites them must drop the entry, or the dedup
# funnel sizes its banding from a stale count.
_ANN_AT_REST_MEMO: dict[tuple, tuple] = {}


def _ann_at_rest_tables(spark, sf_dir):
    """(sig_table, vec_table, raw_count, sig_count) — build the
    vec_id-bucketed at-rest sketch index once per (session, sf); shared
    by the at-rest ANN probe AND the semantic-dedup funnel (same
    sig/vec contract). ``sig_count`` memoizes the norm-filtered sig
    table's row count at build time (r10): the dedup funnel's adaptive
    banding needs exactly that number, and counting it here once per
    session replaces one count job per funnel invocation."""
    import re as _re

    emb = _emb(spark, sf_dir)
    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    key = (spark.sparkContext.applicationId, tag)
    if key not in _ANN_AT_REST_MEMO:
        sig_t, vec_t = f"ann_sigs_by_vec_{tag}", f"ann_vecs_by_vec_{tag}"
        sim_mod.write_ann_at_rest(
            emb, sig_t, vec_t,
            path_prefix=f"/tmp/spark_graft_bucketed/ann_{tag}",
        )
        _ANN_AT_REST_MEMO[key] = (
            sig_t, vec_t, table_rows(spark, sf_dir, "embeddings"),
            spark.table(sig_t).count(),
        )
    return _ANN_AT_REST_MEMO[key]


@_register("ann_topk_lsh_at_rest", sim_mod.ann_topk_lsh_sql(64, 10))
def ann_topk_lsh_at_rest(spark, sf_dir):
    """The sketch index AT REST (new in r7): signatures + vectors
    materialized once as vec_id-bucketed tables, probe scans only the
    24 B/row sig table and joins survivors back to vectors with ZERO
    Exchange (plan-asserted in tests/test_sinks_ann.py). Result- and
    oracle-identical to ann_topk_lsh — same kernel signatures, same
    adaptive cut from the same raw COUNT(*), same cosine fold — so it
    shares that query's full-replay DuckDB twin verbatim. This is the
    100 TB I/O story: the inline path re-reads ~260 B/row of vectors
    per batch; this one reads 24 B/row plus survivors only."""
    sig_t, vec_t, n_rows, _ = _ann_at_rest_tables(spark, sf_dir)
    return sim_mod.ann_topk_lsh_at_rest(spark, sig_t, vec_t, n_rows, 64, 10)


# ---- event analytics --------------------------------------------------

@_register("sessionize_events", _with(*sess_mod.sessionize_sql()))
def sessionize_events(spark, sf_dir):
    return sess_mod.sessionize(_events(spark, sf_dir))


@_register("json_k_stats", sess_mod.JSON_K_STATS_SQL)
def json_k_stats(spark, sf_dir):
    return sess_mod.json_k_stats(_events(spark, sf_dir))


@_register("hourly_rollup", sess_mod.HOURLY_ROLLUP_SQL)
def hourly_rollup(spark, sf_dir):
    return sess_mod.hourly_rollup(_events(spark, sf_dir))


@_register("top_events_per_user", sess_mod.top_events_per_user_sql(3))
def top_events_per_user(spark, sf_dir):
    return sess_mod.top_events_per_user(_events(spark, sf_dir), 3)


@_register(
    "contamination_check",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.CONTAMINATION_SQL,
        dedup_mod.CONTAMINATION_FINAL_SQL,
    ),
)
def contamination_check(spark, sf_dir):
    return dedup_mod.contamination_check(_docs(spark, sf_dir))


@_register("stratified_sample", text_mod.STRATIFIED_SAMPLE_SQL)
def stratified_sample(spark, sf_dir):
    return text_mod.stratified_sample(_docs(spark, sf_dir))


@_register("pii_scrub", text_mod.PII_SCRUB_SQL)
def pii_scrub(spark, sf_dir):
    return text_mod.pii_scrub(_docs(spark, sf_dir))


@_register("pack_sequences", pack_mod.PACK_SEQUENCES_SQL)
def pack_sequences(spark, sf_dir):
    return pack_mod.pack_sequences(_docs(spark, sf_dir))


@_register("asof_order_events", asof_mod.ASOF_ORDER_EVENTS_SQL)
def asof_order_events(spark, sf_dir):
    return asof_mod.asof_order_events(
        load_table(spark, sf_dir, "orders"), _events(spark, sf_dir)
    )


@_register(
    "streaming_nation_counts",
    """SELECT c.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1""",
)
def streaming_nation_counts(spark, sf_dir):
    """Stream-static join snapshot (complete mode) — equals the batch
    fact-to-dim join + GROUP BY on a fully-arrived input."""
    stream = stream_mod.read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    snap = stream_mod.run_available_now(
        stream_mod.streaming_nation_counts(stream, customer),
        output_mode="complete",
        state_partitions=8,
    )
    return snap.orderBy("c_nationkey")


@_register(
    "streaming_dedup_keys",
    """SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2""",
)
def streaming_dedup_keys(spark, sf_dir):
    """Stateful streaming dedup snapshot — append mode emits each key
    exactly once across all micro-batches; equals batch DISTINCT."""
    stream = stream_mod.read_events_stream(spark, sf_dir)
    snap = stream_mod.run_available_now(
        stream_mod.streaming_dedup_keys(stream),
        output_mode="append",
        state_partitions=8,
    )
    return snap.orderBy("user_id", "event_type")


@_register(
    "streaming_click_purchase",
    """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
       a.ts AS click_ts, b.ts AS purchase_ts,
       CAST(ROUND(b.value * 100, 0) AS BIGINT) AS purchase_cents
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
ORDER BY 1, 2, 3""",
)
def streaming_click_purchase(spark, sf_dir):
    """Stream-stream interval join snapshot (append mode) — each click
    joined to the same user's purchases within 6 hours; on a fully
    arrived availableNow input this equals the batch range join."""
    stream = stream_mod.read_events_stream(spark, sf_dir)
    snap = stream_mod.run_available_now(
        stream_mod.streaming_click_purchase_join(stream),
        output_mode="append",
        state_partitions=8,
    )
    return snap.orderBy("user_id", "click_id", "purchase_id")


@_register("event_funnel", sess_mod.EVENT_FUNNEL_SQL)
def event_funnel(spark, sf_dir):
    return sess_mod.event_funnel(_events(spark, sf_dir))


@_register("hourly_retention", sess_mod.HOURLY_RETENTION_SQL)
def hourly_retention(spark, sf_dir):
    return sess_mod.hourly_retention(_events(spark, sf_dir))


@_register("sliding_rollup", sess_mod.SLIDING_ROLLUP_SQL)
def sliding_rollup(spark, sf_dir):
    return sess_mod.sliding_rollup(_events(spark, sf_dir))


@_register(
    "top_shingles",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        text_mod.top_shingles_sql(20),
    ),
)
def top_shingles(spark, sf_dir):
    return text_mod.top_shingles(_docs(spark, sf_dir), 20)


@_register(
    "boilerplate_flags",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        text_mod.boilerplate_sql(),
    ),
)
def boilerplate_flags(spark, sf_dir):
    """Cross-document repetition: shingle document-frequency →
    per-doc boilerplate fraction → flag (inverted-index shape)."""
    return text_mod.boilerplate_flags(_docs(spark, sf_dir))


@_register(
    "chunk_documents",
    _with(text_mod.DOC_TOK_SQL, text_mod.chunk_documents_sql()),
)
def chunk_documents(spark, sf_dir):
    """Context-window chunking: 64-token windows, stride 48 — map-side
    only (no shuffle at any scale); chunk_fp joins into exact-dedup /
    contamination downstream."""
    return text_mod.chunk_documents(_docs(spark, sf_dir))


@_register("semantic_dedup_clusters", sim_mod.semantic_dedup_sql(0.4, 4))
def semantic_dedup_clusters(spark, sf_dir):
    """Semantic (embedding-space) dedup: near-dup pairs → connected
    components → min-vec_id cluster representative. Oracle anchors the
    exact-pairs mode; the bucketed LSH mode is the 100 TB path
    (equality-vs-exact gated in tests/test_sinks_ann.py)."""
    return sim_mod.semantic_dedup_clusters(_emb(spark, sf_dir), 0.4, 4)


@_register("source_quota_sample", text_mod.source_quota_sql())
def source_quota_sample(spark, sf_dir):
    """Per-source document quota (deterministic hash-ranked survivors) —
    the domain-balancing step of a training mix."""
    return text_mod.source_quota_sample(_docs(spark, sf_dir))


@_register("knn_label_vote", sim_mod.knn_label_vote_sql(5, 10))
def knn_label_vote(spark, sf_dir):
    """Majority label of each query's exact top-10 cosine neighbors —
    similarity search applied to weak labeling / eval."""
    return sim_mod.knn_label_vote(_emb(spark, sf_dir), 5, 10)


@_register(
    "semantic_dedup_lsh", sim_mod.semantic_dedup_lsh_sql(0.4, 4, multi_probe=True)
)
def semantic_dedup_lsh(spark, sf_dir):
    """The 100 TB semantic-dedup path (LSH-bucketed candidates with
    Hamming-1 multi-probe, cosine confirm, CC clusters). Round-7
    contract change: the band bank is now SPARSE ±1 planes (4 nonzeros
    per bit — ~6.5 dense-dot equivalents per vector at a 200k corpus
    vs the old dense bank's ~104) with the width cap lifted 16 → 40
    bits (cells stay constant past 3.5e13 vectors), and the buckets
    come from one Arrow kernel pass instead of a plane cross-join +
    groupBy shuffle. Approximate RELATIVE TO THE EXACT ANCHOR in
    principle, but probing recovers every exact pair on the testdata
    (recall 1.00 at sf0.01, gated >=0.9 in tests/test_sinks_ann.py and
    measured into the bench artifact). Fully DETERMINISTIC in itself:
    the seeded sparse bank, the adaptive width, AND the probe
    expansion are replayed literally by the DuckDB twin (kernel-vs-SQL
    bit-equality tested at widths 4/13/40), so the driver hash-checks
    the entire pipeline. Round-8 contract KEPT, join strategy changed:
    the stage-2/3 attaches now go through the vec_id-bucketed at-rest
    sig/vec tables shared with ann_topk_lsh_at_rest (zero Exchange on
    the table sides; only narrow candidate rows shuffle) instead of
    broadcasting corpus-sized sig/vector frames — the r7 verdict's
    scale-killer watch item. Same signatures bit-for-bit, so the twin
    and the hash-checked contract are unchanged."""
    sig_t, vec_t, _, sig_rows = _ann_at_rest_tables(spark, sf_dir)
    return sim_mod.semantic_dedup_clusters(
        _emb(spark, sf_dir), 0.4, 4, bucketed=True, multi_probe=True,
        sig_table=sig_t, vec_table=vec_t, n_sig_rows=sig_rows,
    )


@_register("json_source_rollup", sess_mod.HOURLY_ROLLUP_SQL)
def json_source_rollup(spark, sf_dir):
    """The hourly rollup computed from the JSON-LINES staging of the
    events table — proves the JSON source yields byte-identical
    semantics to the parquet path (same oracle as ``hourly_rollup``)."""
    from .sources.json_source import read_events_json

    return sess_mod.hourly_rollup(read_events_json(spark, sf_dir))


@_register("length_quantiles", sess_mod.LENGTH_QUANTILES_SQL)
def length_quantiles(spark, sf_dir):
    return sess_mod.length_quantiles(_docs(spark, sf_dir))


# ---- retrieval / LM scoring -------------------------------------------

from .functions import retrieval as ret_mod  # noqa: E402
from .functions import sketch as sketch_mod  # noqa: E402


@_register("tfidf_top_terms", ret_mod.tfidf_sql(3))
def tfidf_top_terms(spark, sf_dir):
    """Top-3 tf·idf terms per document (window-ranked, term tie-break)."""
    return ret_mod.tfidf_top_terms(_docs(spark, sf_dir), 3)


@_register("bm25_search", ret_mod.bm25_sql())
def bm25_search(spark, sf_dir):
    """BM25 top-20 documents for a fixed bag-of-words query."""
    return ret_mod.bm25_search(_docs(spark, sf_dir))


@_register("unigram_nll", ret_mod.unigram_nll_sql())
def unigram_nll(spark, sf_dir):
    """Per-document unigram-LM negative log-likelihood (quality filter)."""
    return ret_mod.unigram_nll(_docs(spark, sf_dir))


@_register(
    "collocations_pmi",
    _with(text_mod.DOC_TOK_SQL, text_mod.collocations_sql()),
)
def collocations_pmi(spark, sf_dir):
    """Top-50 adjacent-token collocations by PMI (deterministic rounded
    rank) — the phrase candidates a tokenizer/vocab builder promotes."""
    return text_mod.collocations_pmi(_docs(spark, sf_dir))


@_register(
    "count_min_tokens",
    _with(
        text_mod.DOC_TOK_SQL,
        "cm_keys AS MATERIALIZED (SELECT unnest(t) AS key FROM doc_tok)",
        *sketch_mod.count_min_sql("cm_keys"),
    ),
)
def count_min_tokens(spark, sf_dir):
    """Count-min sketch over token occurrences, read back at the exact
    top-20 tokens — est >= exact by construction, tight for heavy
    hitters; the occurrence frame is never exploded x depth (vocab
    pre-agg first)."""
    toks = _docs(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    return sketch_mod.count_min_estimates(toks, "tok", 20)


@_register(
    "hll_user_estimate",
    sketch_mod.hll_sql("events", "event_type", "user_id"),
)
def hll_user_estimate(spark, sf_dir):
    """HLL-style distinct-user estimate per event_type, exact count
    alongside — register arithmetic identical in Spark and DuckDB."""
    return sketch_mod.hll_distinct(_events(spark, sf_dir), "event_type", "user_id")


# ---- multimodal plumbing ----------------------------------------------

@_register("multimodal_features", mm_mod.MULTIMODAL_FEATURES_SQL)
def multimodal_features(spark, sf_dir):
    return mm_mod.extract_features(mm_mod.with_payload(_docs(spark, sf_dir)))


# ---- triangle counting (part co-purchase graph) -----------------------

from .library import triangles as tri_mod  # noqa: E402


@_register(
    "triangle_count_pc",
    _with(PC_EDGES_SQL, tri_mod.oracle_sql("pc_edges")),
)
def triangle_count_pc(spark, sf_dir):
    return tri_mod.triangle_count(part_copurchase_graph(spark, sf_dir))


@_register(
    "triangles_per_vertex_uu",
    _with(
        UU_EDGES_SQL,
        """SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT ab.src AS id FROM uu_edges ab
  JOIN uu_edges bc ON ab.dst = bc.src
  JOIN uu_edges ac ON ac.src = ab.src AND ac.dst = bc.dst
  UNION ALL
  SELECT ab.dst FROM uu_edges ab
  JOIN uu_edges bc ON ab.dst = bc.src
  JOIN uu_edges ac ON ac.src = ab.src AND ac.dst = bc.dst
  UNION ALL
  SELECT bc.dst FROM uu_edges ab
  JOIN uu_edges bc ON ab.dst = bc.src
  JOIN uu_edges ac ON ac.src = ab.src AND ac.dst = bc.dst
) GROUP BY 1""",
    ),
)
def triangles_per_vertex_uu(spark, sf_dir):
    return tri_mod.triangles_per_vertex(user_cooccurrence_graph(spark, sf_dir))


@_register(
    "clustering_coeff_uu",
    _with(UU_EDGES_SQL, *tri_mod.clustering_sql("uu_edges")),
)
def clustering_coeff_uu(spark, sf_dir):
    """Local clustering coefficient per vertex of the user-cooccurrence
    graph — triangle enumeration shared with triangles_per_vertex_uu."""
    return tri_mod.clustering_coefficient(user_cooccurrence_graph(spark, sf_dir))


# ---- strongly connected components ------------------------------------

from .library import scc as scc_mod  # noqa: E402

# three non-trivial SCCs ({1,2,3}, {4,5}, {6,7,8}), singleton source
# (10) and sink (9) hanging off SCC A, one self-loop (11): exercises
# TWO peel rounds (9 and 10 only complete after {1,2,3} peels) and
# both propagation directions
SCC_FIXTURE_EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (2, 6),
    (6, 7), (7, 8), (8, 6), (3, 9), (10, 1), (11, 11),
]


@_register(
    "scc_fixture",
    scc_mod.oracle_sql(", ".join(f"({s}, {d})" for s, d in SCC_FIXTURE_EDGES)),
)
def scc_fixture(spark, sf_dir):
    """Strongly connected components (FW-BW-min peel rounds) on a fixed
    13-edge digraph; the oracle computes exact mutual transitive
    closure over the same VALUES list.

    Shuffle partitions are sized to the data for the duration of the
    eager peel loop (the same size-to-keys policy as the streaming
    snapshots' ``state_partitions``): every superstep materializes a
    checkpoint, and 32-partition exchanges on an 11-vertex frame are
    pure scheduler overhead. The result reads the peel loop's last
    state checkpoint, written before the conf is restored, so the
    caller's later action replays only a filter.
    """
    with _fixture_partitions(spark):
        g = Graph.from_edges(
            spark.createDataFrame(
                [(s, d, 1) for s, d in SCC_FIXTURE_EDGES],
                "src long, dst long, value long",
            ).coalesce(4)  # 13 rows over 32 parallelize slices otherwise
        )
        # Fixture condensation completes in exactly 2 peel rounds
        # ({1,2,3} + {11} first, then {4,5}/{6,7,8}/9/10); label depth
        # is 4 hops in round 1 (f(5) via 1→2→3→4→5) and 2 in round 2
        # (the 6→7→8 cycle). The delta-mode fixpoints exit one
        # superstep after their depth, 5 + 3 supersteps in all.
        return scc_mod.scc(g, max_rounds=2, max_iter=5)


# ---- graph summarization (condensation by nation) ---------------------

from .library import summarization as summ_mod  # noqa: E402
from .sources.graphs import SUPPLIER_OFFSET  # noqa: E402


def _cs_nation_graph(spark, sf_dir):
    """Customer–supplier graph relabeled with vertex value = nationkey
    (customers via c_nationkey, suppliers via s_nationkey) — the input
    for summarization: condense the bipartite order graph into a
    25-nation super-graph."""
    g = _cs(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").cast("long").alias("value"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + F.lit(SUPPLIER_OFFSET)).cast("long").alias("id"),
        F.col("s_nationkey").cast("long").alias("value"),
    )
    labels = cust.unionByName(supp)
    return Graph(g.vertices.select("id").join(labels, "id"), g.edges)


@_register(
    "summarize_nation_vertices",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        summ_mod.NATION_LABELS_SQL,
        summ_mod.VGROUPS_SQL,
        summ_mod.SUMMARY_VERTICES_SQL,
    ),
)
def summarize_nation_vertices(spark, sf_dir):
    """Summary super-vertices: one row per nation group with min-id
    representative and member count (Gelly Summarization vertex side)."""
    return summ_mod.summarize_vertices(_cs_nation_graph(spark, sf_dir))


@_register(
    "summarize_nation_edges",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        summ_mod.NATION_LABELS_SQL,
        summ_mod.VGROUPS_SQL,
        summ_mod.VMAP_SQL,
        summ_mod.SUMMARY_EDGES_SQL,
    ),
)
def summarize_nation_edges(spark, sf_dir):
    """Summary super-edges: customer-nation → supplier-nation pairs with
    grouped parallel-edge counts (Gelly Summarization edge side)."""
    return summ_mod.summarize_edges(_cs_nation_graph(spark, sf_dir))


@_register(
    "cc_pc",
    _with(
        PC_EDGES_SQL,
        "pc_vertices AS MATERIALIZED (SELECT id, id AS value FROM ("
        "SELECT src AS id FROM pc_edges UNION SELECT dst FROM pc_edges))",
        *cc_mod.oracle_ctes("pc_edges", "pc_vertices", 6),
    ),
)
def cc_pc(spark, sf_dir):
    """Connected components on the dense part co-purchase graph (1.2M
    edges at sf0.1) — the scale stressor for the delta Pregel loop."""
    return cc_mod.connected_components(
        part_copurchase_graph(spark, sf_dir), max_iter=6
    )


@_register(
    "pagerank_pc",
    _with(
        PC_EDGES_SQL,
        "pc_vertices AS MATERIALIZED (SELECT id, id AS value FROM ("
        "SELECT src AS id FROM pc_edges UNION SELECT dst FROM pc_edges))",
        *pr_mod.oracle_ctes("pc_edges", "pc_vertices", 0.85, 5),
    ),
)
def pagerank_pc(spark, sf_dir):
    """PageRank on the dense part co-purchase graph — the full-propagation
    (non-delta) Pregel stressor: every superstep moves a message per edge,
    unlike the shrinking-frontier CC/SSSP loops."""
    return pr_mod.page_rank(part_copurchase_graph(spark, sf_dir), max_iter=5)


# ---- MusicProfiles-style composite pipeline (§2.9) ---------------------

from .library import music_profiles as mp_mod  # noqa: E402


@_register(
    "top_event_per_user",
    _with(mp_mod.TOP_EVENT_SQL, "SELECT user_id, top_event, CAST(n_plays AS BIGINT) AS n_plays FROM top_event"),
)
def top_event_per_user(spark, sf_dir):
    return mp_mod.top_event_per_user(_events(spark, sf_dir)).select(
        "user_id", "top_event", F.col("n_plays").cast("long").alias("n_plays")
    )


@_register(
    "shared_top_event_edges",
    _with(mp_mod.SHARED_TOP_EDGES_SQL, "SELECT src, dst, value FROM shared_edges"),
)
def shared_top_event_edges(spark, sf_dir):
    return mp_mod.shared_top_event_graph(_events(spark, sf_dir)).edges


@_register(
    "music_profiles_communities",
    _with(
        mp_mod.SHARED_TOP_EDGES_SQL,
        """mp_ue AS MATERIALIZED (
  SELECT src, dst FROM shared_edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM shared_edges
)""",
        """mp_vertices AS MATERIALIZED (
  SELECT id, id AS value FROM (
    SELECT src AS id FROM shared_edges UNION SELECT dst FROM shared_edges
  )
)""",
        *lpa_mod.oracle_ctes("mp_ue", "mp_vertices", 3),
    ),
)
def music_profiles_communities(spark, sf_dir):
    return mp_mod.music_profiles_communities(_events(spark, sf_dir), max_iter=3)


# ---- structured streaming (availableNow snapshot = batch semantics) ----

from .streaming import events as stream_mod  # noqa: E402


@_register(
    "streaming_hourly_rollup",
    """SELECT event_type, date_trunc('hour', ts) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2""",
)
def streaming_hourly_rollup(spark, sf_dir):
    """Incremental tumbling-window rollup run to completion with
    trigger(availableNow) — for a fully-arrived input the snapshot must
    equal the batch GROUP BY exactly (the oracle); approx_count_distinct
    is excluded (nondeterministic across engines by design).
    """
    stream = stream_mod.read_events_stream(spark, sf_dir)
    # state keyed by (event_type, hour window) — a few hundred rows at
    # any horizon, not one state store per core (r10: matches the 8 the
    # other streaming snapshots already size to; integer sums and HLL
    # register-max are partitioning-insensitive, oracle unchanged)
    snap = stream_mod.run_available_now(
        stream_mod.streaming_hourly_rollup(stream), state_partitions=8
    )
    return snap.select("event_type", "hour", "n_events", "sum_cents")


@_register(
    "streaming_sessionize",
    _with(
        sess_mod.sessionize_sql()[0],
        """SELECT user_id, n_events, start_ts, end_ts, sum_cents FROM (
"""
        + sess_mod.sessionize_sql()[1]
        + "\n)",
    ),
)
def streaming_sessionize(spark, sf_dir):
    """session_window sessionization snapshot — identical session
    boundaries to the batch lag()-gap plan (oracle = batch sessionize
    minus the session-id column, which streaming windows don't number).
    """
    stream = stream_mod.read_events_stream(spark, sf_dir)
    snap = stream_mod.run_available_now(stream_mod.streaming_sessionize(stream))
    return snap.select("user_id", "n_events", "start_ts", "end_ts", "sum_cents")


@_register(
    "streaming_user_totals",
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)), 0)
            AS BIGINT) AS sum_cents
FROM events GROUP BY 1""",
)
def streaming_user_totals(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState running totals).
    The update-mode memory sink appends one row per user per micro-batch;
    the snapshot below reduces to the LAST update per user — since each
    update adds ≥1 event, n_events is strictly increasing per user, so
    max-by-n_events IS the final state regardless of how many
    micro-batches the file source split the input into. Hash-matches
    the batch GROUP BY oracle.
    """
    from .streaming.stateful import running_user_totals

    # Prune to the two columns the state update reads BEFORE the stateful
    # shuffle — at scale the props/event_type payload must not ship
    # through the state-store exchange or the Arrow channel.
    stream = stream_mod.read_events_stream(spark, sf_dir).select("user_id", "value")
    # state partitions sized to key cardinality (~150 users in testdata),
    # not core count — one state store per core is pure overhead here.
    snap = stream_mod.run_available_now(
        running_user_totals(stream), output_mode="update", state_partitions=8
    )
    last = snap.groupBy("user_id").agg(
        F.max(F.struct("n_events", "sum_cents")).alias("m")
    )
    return last.select(
        "user_id",
        F.col("m")["n_events"].alias("n_events"),
        F.col("m")["sum_cents"].alias("sum_cents"),
    )


@_register(
    "streaming_degrees",
    _with(
        CS_EDGES_SQL,
        """SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree
FROM cs_edges GROUP BY 1""",
    ),
)
def streaming_degrees(spark, sf_dir):
    """Incremental degree maintenance over an edge stream: the batch
    engine's Parquet sink is tailed as a file stream (several files per
    micro-batch), a stateful agg accumulates per-vertex out-degrees, and
    the availableNow snapshot equals batch out_degrees — the oracle.
    """
    from .streaming import graph_stream as gs

    edges_path = gs.stage_edges(_cs(spark, sf_dir), key=sf_dir)
    stream = gs.read_edges_stream(spark, edges_path)
    return stream_mod.run_available_now(
        gs.streaming_out_degrees(stream), output_mode="complete", state_partitions=8
    )




# ---- round-3 additions: quality filters, passage dedup, skip-gram,
# Zipf, bigram LM, GSA parity ------------------------------------------

@_register(
    "quality_filters",
    _with(text_mod.DOC_TOK_SQL, text_mod.quality_filters_sql()),
)
def quality_filters(spark, sf_dir):
    """Gopher/C4-style multi-rule filter: named per-rule violation
    flags + keep decision, all map-side column expressions."""
    return text_mod.quality_filters(_docs(spark, sf_dir))


@_register(
    "passage_dedup",
    _with(dedup_mod.DD_SQL, dedup_mod.passage_dedup_sql()),
)
def passage_dedup(spark, sf_dir):
    """Exact duplicated n-token passages across docs (Lee et al. 2021
    ExactSubstr, re-expressed as rolling-hash + one hash-groupBy)."""
    return dedup_mod.passage_dedup(
        dedup_mod.with_synthetic_dups(_docs(spark, sf_dir))
    )


@_register(
    "skipgram_pairs", _with(text_mod.DOC_TOK_SQL, text_mod.skipgram_sql())
)
def skipgram_pairs(spark, sf_dir):
    """word2vec skip-gram (center, context) training-pair counts —
    map-side nested-list generation, vocabulary-bounded agg."""
    return text_mod.skipgram_pairs(_docs(spark, sf_dir))


@_register("zipf_slope", _with(text_mod.DOC_TOK_SQL, text_mod.ZIPF_SLOPE_SQL))
def zipf_slope(spark, sf_dir):
    """Zipf power-law fit over the ranked vocabulary (corpus probe)."""
    return text_mod.zipf_slope(_docs(spark, sf_dir))


@_register("bigram_nll", ret_mod.bigram_nll_sql())
def bigram_nll(spark, sf_dir):
    """Per-doc NLL under a Jelinek-Mercer interpolated bigram LM."""
    return ret_mod.bigram_nll(_docs(spark, sf_dir))


@_register(
    "gsa_sssp_golden",
    _golden_algo_sql(
        sssp_mod.oracle_ctes("golden_edges", "golden_vertices", 1, 5)
    ),
)
def gsa_sssp_golden(spark, sf_dir):
    """SSSP on the gather-sum-apply surface (Gelly GSA parity) — same
    unrolled Bellman-Ford oracle as the vertex-centric sssp_golden."""
    return sssp_mod.shortest_paths_gsa(golden_graph(spark), 1, max_iter=5)




@_register(
    "mixture_weights",
    _with(text_mod.DOC_TOK_SQL, text_mod.mixture_weights_sql()),
)
def mixture_weights(spark, sf_dir):
    """Per-source token inventory + sampling rate toward a uniform
    target mixture (pretraining data-mixing)."""
    return text_mod.mixture_weights(_docs(spark, sf_dir))


@_register(
    "token_budget_select",
    _with(text_mod.DOC_TOK_SQL, *text_mod.token_budget_sql()),
)
def token_budget_select(spark, sf_dir):
    """Quality-ranked doc selection under a global token budget via the
    bounded quality-level CDF (no global per-doc running sum)."""
    return text_mod.token_budget_select(_docs(spark, sf_dir))


@_register(
    "corpus_report",
    _with(text_mod.DOC_TOK_SQL, text_mod.corpus_report_sql()),
)
def corpus_report(spark, sf_dir):
    """Dataset-card rollup per (source, lang): docs, tokens, mean
    quality, quality-filter keep rate — one scan, one bounded agg."""
    return text_mod.corpus_report(_docs(spark, sf_dir))


@_register("embedding_outliers", sim_mod.embedding_outliers_sql())
def embedding_outliers(spark, sf_dir):
    """Bottom-k per-label centroid-cosine outliers (mislabel / OOD
    screen over the embedding table)."""
    return sim_mod.embedding_outliers(_emb(spark, sf_dir))


@_register(
    "edge_support_uu",
    _with(UU_EDGES_SQL, *tri_mod.edge_support_sql("uu_edges")),
)
def edge_support_uu(spark, sf_dir):
    """Per-edge triangle support (k-truss building block) on the user
    co-occurrence graph."""
    return tri_mod.edge_support(user_cooccurrence_graph(spark, sf_dir))




@_register(
    "histogram_quantiles",
    _with(text_mod.DOC_TOK_SQL, *sketch_mod.histogram_quantiles_sql()),
)
def histogram_quantiles(spark, sf_dir):
    """Mergeable fixed-bin histogram quantiles (p50/p90/p99 of doc
    token count) — the sketch alternative to an exact global sort."""
    return sketch_mod.histogram_quantiles(_docs(spark, sf_dir))


CLOSENESS_SEEDS = (1, 2, 3, 4)


@_register(
    "closeness_sample_uu",
    _with(
        UU_EDGES_SQL,
        """uu_vertices AS (
  SELECT src AS id FROM uu_edges UNION SELECT dst FROM uu_edges)""",
        *closeness_mod.oracle_ctes(
            "uu_edges", "uu_vertices", CLOSENESS_SEEDS, max_iter=6
        ),
    ),
)
def closeness_sample_uu(spark, sf_dir):
    """Sampled harmonic closeness via BATCHED multi-source BFS: all 4
    seeds run as ONE delta Pregel over a seed-replicated encoded graph
    (one join+agg per superstep regardless of seed count)."""
    return closeness_mod.closeness_sample(
        user_cooccurrence_graph(spark, sf_dir), CLOSENESS_SEEDS, max_iter=6
    )


@_register(
    "ktruss_uu",
    _with(UU_EDGES_SQL, *tri_mod.k_truss_ctes("uu_edges", 60, 1)),
)
def ktruss_uu(spark, sf_dir):
    """60-truss edge set (support-peeled, 1 bounded round) on the user
    co-occurrence graph — reuses the O(m^1.5) oriented support pass.
    k=60 sits inside the dense uu support distribution (min 41, median
    73 at sf0.01) so the peel removes real edges. One bounded round =
    two support passes; the uu graph is small enough that the cost is
    pure exchange scheduling, so the shuffle is sized down for the
    duration (same rationale as _fixture_partitions for golden-scale
    Pregel queries)."""
    with _fixture_partitions(spark, 8):
        return tri_mod.k_truss(user_cooccurrence_graph(spark, sf_dir), 60, 1)




PPR_SEEDS = (1, 2, 3)


@_register(
    "ppr_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        *pr_mod.personalized_oracle_ctes(
            "cs_edges", "cs_vertices", PPR_SEEDS, 0.85, 10
        ),
    ),
)
def ppr_cs(spark, sf_dir):
    """Personalized PageRank (random walk with restart to a 3-customer
    seed set) on the customer-supplier graph."""
    return pr_mod.personalized_page_rank(
        _cs(spark, sf_dir), PPR_SEEDS, beta=0.85, max_iter=10
    )


@_register(
    "neighborhood_function_uu",
    _with(
        UU_EDGES_SQL,
        """uu_vertices AS (
  SELECT src AS id FROM uu_edges UNION SELECT dst FROM uu_edges)""",
        *nf_mod.oracle_ctes("uu_edges", "uu_vertices", max_r=2),
    ),
)
def neighborhood_function_uu(spark, sf_dir):
    """HyperANF-style approximate neighborhood function N(r), r=0..2:
    per-vertex HLL ball sketches merged along edges each round."""
    return nf_mod.neighborhood_function(
        user_cooccurrence_graph(spark, sf_dir), max_r=2
    )




@_register(
    "streaming_quality_by_source",
    _with(
        text_mod.DOC_TOK_SQL,
        f"""SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {text_mod.qf_keep_expr_sql()} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep
FROM doc_tok dt JOIN documents d USING (doc_id)
GROUP BY 1 ORDER BY 1""",
    ),
)
def streaming_quality_by_source(spark, sf_dir):
    """Live corpus-health feed: the quality-filter suite scored
    map-side per micro-batch over a DOCUMENT stream, per-source keep
    counters as the only streaming state (complete-mode snapshot =
    the batch oracle on a fully-arrived corpus)."""
    from .streaming import docs as docs_stream_mod

    stream = docs_stream_mod.read_docs_stream(spark, sf_dir)
    snap = stream_mod.run_available_now(
        docs_stream_mod.streaming_quality_by_source(stream),
        output_mode="complete",
        state_partitions=8,
    )
    return snap.orderBy("source")




RMAT_SCALE = 10
RMAT_EDGES = 4096


@_register(
    "rmat_degree_histogram",
    _with(
        gen_mod.rmat_edges_sql(RMAT_SCALE, RMAT_EDGES),
        """SELECT CAST(length(bin(od)) - 1 AS BIGINT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(MIN(od) AS BIGINT) AS min_degree,
       CAST(MAX(od) AS BIGINT) AS max_degree
FROM (SELECT src, CAST(COUNT(*) AS BIGINT) AS od
      FROM rmat_edges GROUP BY 1)
GROUP BY 1 ORDER BY 1""",
    ),
)
def rmat_degree_histogram(spark, sf_dir):
    """Out-degree log2 histogram of a GENERATED RMat(2^10 vertices,
    4096 edges) graph — Gelly-successor generator parity; the whole
    graph is arithmetic over spark.range (no I/O), and DuckDB replays
    the identical per-edge bit recursion, so even the generator is
    oracle-checked. The power-law bucket spread is the RMat signature."""
    deg = (
        gen_mod.rmat_edges(spark, RMAT_SCALE, RMAT_EDGES)
        .groupBy("src")
        .agg(F.count("*").cast("bigint").alias("od"))
    )
    return (
        deg.select(
            (
                F.length(F.conv(F.col("od").cast("string"), 10, 2)) - 1
            ).cast("bigint").alias("log2_bucket"),
            "od",
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_vertices"),
            F.min("od").cast("bigint").alias("min_degree"),
            F.max("od").cast("bigint").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )




@_register(
    "winnow_dup_pairs",
    _with(dedup_mod.DD_SQL, *dedup_mod.winnow_sql()),
)
def winnow_dup_pairs(spark, sf_dir):
    """MOSS-style robust winnowing near-dup candidates: min-hash of
    each sliding window of k-gram hashes (guaranteed shared fingerprint
    for any shared substring >= w+k-1 tokens), df-capped inverted-index
    pair join."""
    return dedup_mod.winnow_dup_pairs(
        dedup_mod.with_synthetic_dups(_docs(spark, sf_dir))
    )




@_register(
    "pretrain_funnel",
    _with(dedup_mod.DD_SQL, *text_mod.pretrain_funnel_sql()),
)
def pretrain_funnel(spark, sf_dir):
    """End-to-end data-prep funnel audit: raw -> quality-filtered ->
    exact-deduped -> token-budget-selected, survivor doc/token counts
    per stage (composes the oracle-checked stage operators)."""
    return text_mod.pretrain_funnel(
        dedup_mod.with_synthetic_dups(_docs(spark, sf_dir))
    )




@_register("embedding_quantize", sim_mod.embedding_quantize_sql())
def embedding_quantize(spark, sf_dir):
    """int8 scalar quantization audit: per-vector integer-exact code
    checksum + reconstruction MSE (ppm) against a dimension-sized
    broadcast calibration table."""
    return sim_mod.embedding_quantize(_emb(spark, sf_dir))




@_register(
    "bipartite_projection_cs",
    _with(
        CS_EDGES_SQL,
        bip_mod.project_top_sql("cs_edges"),
    ),
)
def bipartite_projection_cs(spark, sf_dir):
    """Gelly BipartiteGraph.projectionTopSimple parity: customers
    connected by shared suppliers (hub-capped self-join — worst case
    n_suppliers x cap^2 regardless of skew), deterministic top-k."""
    return bip_mod.project_top(_cs(spark, sf_dir))


@_register(
    "assortativity_uu",
    _with(
        UU_EDGES_SQL,
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_edge_ends,
       ROUND(corr(du, dv), 6) AS assortativity
FROM (
    SELECT d1.deg AS du, d2.deg AS dv
    FROM (SELECT src, dst FROM uu_edges
          UNION ALL SELECT dst AS src, src AS dst FROM uu_edges) e
    JOIN (SELECT id, COUNT(*) AS deg FROM (
              SELECT src AS id FROM uu_edges
              UNION ALL SELECT dst FROM uu_edges) GROUP BY 1) d1
      ON e.src = d1.id
    JOIN (SELECT id, COUNT(*) AS deg FROM (
              SELECT src AS id FROM uu_edges
              UNION ALL SELECT dst FROM uu_edges) GROUP BY 1) d2
      ON e.dst = d2.id
)""",
    ),
)
def assortativity_uu(spark, sf_dir):
    """Degree assortativity (Newman 2002): Pearson correlation of
    endpoint degrees over the symmetrized edge list — one scan to the
    degree table, two dimension joins, a single scalar agg."""
    g = user_cooccurrence_graph(spark, sf_dir)
    e = g.edges.select("src", "dst")
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = reuse_leaf(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    pairs = (
        sym.join(deg.selectExpr("id AS src", "deg AS du"), "src")
        .join(deg.selectExpr("id AS dst", "deg AS dv"), "dst")
    )
    # guarded Pearson instead of F.corr: on a REGULAR graph the degree
    # variance is zero and Spark's corr divides by it (an ANSI
    # ArithmeticException, found by random-graph fuzzing); the CASE
    # short-circuits to NULL there — exactly what DuckDB's corr()
    # returns, so the twin needs no change. cov_pop/(sd_pop·sd_pop) is
    # the same r (the 1/n factors cancel).
    sx, sy = F.stddev_pop("du"), F.stddev_pop("dv")
    r = F.when(
        (sx > 0) & (sy > 0), F.covar_pop("du", "dv") / (sx * sy)
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_edge_ends"),
        F.round(r, 6).alias("assortativity"),
    )




@_register("principal_direction", sim_mod.principal_direction_sql())
def principal_direction(spark, sf_dir):
    """First principal component of the centered embedding corpus by
    relational power iteration — per round two dimension-bounded aggs
    (X^T(Xv)), state is always dims-sized, no matrix materialized."""
    return sim_mod.principal_direction(_emb(spark, sf_dir))




@_register("kmeans_clusters", sim_mod.kmeans_clusters_sql())
def kmeans_clusters(spark, sf_dir):
    """Oracle-checked Lloyd k-means over the embedding corpus —
    deterministic init (k lowest-id vectors), fixed rounds, tie-broken
    argmin; the verifiable clustering surface next to the recall-gated
    IVF trainer."""
    return sim_mod.kmeans_clusters(_emb(spark, sf_dir))




@_register(
    "embedding_label_spread",
    _with(
        sim_mod.EMB_NORM_SQL.strip(),
        sim_mod.knn_edges_sql(5),
        """els_sym AS MATERIALIZED (
  SELECT src, dst FROM knn_edges
  UNION SELECT dst AS src, src AS dst FROM knn_edges)""",
        """els_v AS MATERIALIZED (
  SELECT vec_id AS id,
         CASE WHEN vec_id % 5 = 0 THEN CAST(label AS BIGINT)
              ELSE -1 END AS value,
         vec_id % 5 = 0 AS seed
  FROM embeddings)""",
        *lpa_mod.spread_oracle_ctes("els_sym", "els_v", max_iter=3),
    ),
)
def embedding_label_spread(spark, sf_dir):
    """Semi-supervised label spreading over the exact kNN similarity
    graph: 20% of vectors keep their true label (clamped seeds), the
    rest start unlabeled (-1) and adopt the mode of labeled neighbors
    over 3 rounds — the sparse-human-labels -> full-corpus-labels
    pattern. kNN build is the quadratic-by-contract sf0.01 anchor
    (swap the LSH/IVF candidate paths in at scale).

    Note on semantics vs data: the SYNTHETIC embedding labels are not
    neighborhood-correlated (measured spread-vs-true agreement ~11% =
    chance over ~9 classes at sf0.001 and sf0.01), so this query
    verifies the MECHANISM exactly (hash-matched oracle; every
    non-seed acquires a label within 3 rounds) rather than asserting
    accuracy the data cannot support — on real corpora with
    cluster-correlated labels the same operator performs the actual
    labeling task."""
    from .graph import Graph
    from .library import label_propagation as _lpa

    emb = _emb(spark, sf_dir)
    e = sim_mod.knn_edges(emb, 5)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.when(F.col("vec_id") % 5 == 0, F.col("label").cast("long"))
        .otherwise(F.lit(-1))
        .alias("value"),
        (F.col("vec_id") % 5 == 0).alias("seed"),
    )
    return _lpa.label_spread(Graph(v, sym), max_iter=3)


# ---- round-3b: vocabulary / blocklist / embedding geometry -----------


@_register("vocab_coverage", _with(*text_mod.vocab_coverage_sql()))
def vocab_coverage(spark, sf_dir):
    """Per-source OOV rate against a corpus-fitted top-V vocabulary
    (tokenizer-design feedback loop: fit once, broadcast, one scan)."""
    return text_mod.vocab_coverage(_docs(spark, sf_dir))


@_register("bloom_blocklist", _with(*text_mod.bloom_blocklist_sql()))
def bloom_blocklist(spark, sf_dir):
    """Bloom-prefiltered blocklist screen per source: candidate vs
    exactly-confirmed docs, with the false-positive column kept visible
    so the m/k operating point is observable."""
    return text_mod.bloom_blocklist(_docs(spark, sf_dir))


@_register("embedding_dim_stats", sim_mod.embedding_dim_stats_sql())
def embedding_dim_stats(spark, sf_dir):
    """Per-dimension mean/std of the embedding space — the fitted
    standardization (whitening diagonal); DIM-bounded aggregate."""
    return sim_mod.embedding_dim_stats(_emb(spark, sf_dir))


@_register("cosine_pair_histogram", sim_mod.cosine_pair_histogram_sql())
def cosine_pair_histogram(spark, sf_dir):
    """Corpus-geometry diagnostic: cosine of consecutive-id pairs,
    0.1-bucketed — O(n) self equi-join, never the quadratic pair
    space."""
    return sim_mod.cosine_pair_histogram(_emb(spark, sf_dir))


@_register("betweenness_grid", btw_mod.grid_oracle_sql(4, 4))
def betweenness_grid(spark, sf_dir):
    """Exact betweenness centrality via batched all-sources Brandes on
    the 4×4 grid: all 16 forward BFS sweeps run as ONE loop over a
    composite (source, vertex) key, then one backward dependency sweep
    per level. Oracle enumerates every shortest path — checks the
    definition, not the recurrence."""
    with _fixture_partitions(spark, 4):
        return btw_mod.betweenness(gen_mod.grid_graph(spark, 4, 4), max_depth=6)


@_register("dag_longest_path", dag_mod.grid_dag_oracle_sql(5, 5))
def dag_longest_path(spark, sf_dir):
    """Critical-path analytics: longest weighted path + topological
    level per vertex on the 5x5 grid DAG — 8 bounded relax-all rounds,
    one join + one max-agg each; oracle enumerates every monotone
    path."""
    with _fixture_partitions(spark, 4):
        return dag_mod.dag_longest_path(
            dag_mod.weighted_grid_dag(spark, 5, 5), max_rounds=8
        )


@_register(
    "effective_diameter_uu",
    _with(
        UU_EDGES_SQL,
        """uu_vertices AS (
  SELECT src AS id FROM uu_edges UNION SELECT dst FROM uu_edges)""",
        *nf_mod.effective_diameter_oracle("uu_edges", "uu_vertices", max_r=4),
    ),
)
def effective_diameter_uu(spark, sf_dir):
    """HyperANF effective diameter (90% rule over the neighborhood
    function, r=0..4) on the user co-occurrence graph."""
    return nf_mod.effective_diameter(
        user_cooccurrence_graph(spark, sf_dir), max_r=4
    )


@_register("graph_coloring_grid", col_mod.grid_oracle_sql(4, 4, 6))
def graph_coloring_grid(spark, sf_dir):
    """Iterated-MIS (Luby / Jones-Plassmann) proper coloring with
    portable hash priorities on the 4x4 grid — one MIS round per color;
    oracle replays the rounds unrolled."""
    with _fixture_partitions(spark, 4):
        return col_mod.color_graph(gen_mod.grid_graph(spark, 4, 4), max_rounds=6)


@_register(
    "ngram_containment_topk",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.PAIR_COUNTS_CAPPED_SQL,
        dedup_mod.NGRAM_CONTAINMENT_TOPK_SQL,
    ),
)
def ngram_containment_topk(spark, sf_dir):
    """Top-k pairs by shingle CONTAINMENT (inter / min size) — the
    quote/subset detector Jaccard misses; shares the df-capped
    inverted-index pass."""
    return dedup_mod.ngram_containment_topk(_docs(spark, sf_dir))


@_register(
    "cross_source_overlap",
    _with(dedup_mod.CROSS_SOURCE_OVERLAP_SQL),
)
def cross_source_overlap(spark, sf_dir):
    """Distinct-shingle overlap between every source pair — the corpus
    provenance health check; join key is source-distinct so hot-shingle
    blowup is structurally impossible."""
    return dedup_mod.cross_source_overlap(_docs(spark, sf_dir))


@_register(
    "translate_golden",
    _with(
        GOLDEN_EDGES_SQL,
        """SELECT e.src * 10 AS src, e.dst * 10 AS dst,
       e.value + 100 AS value
FROM golden_edges e""",
    ),
)
def translate_golden(spark, sf_dir):
    """Gelly translate surface: ids x10 (injective) and edge values
    +100 on the golden fixture — pure projections, no shuffle."""
    g = (
        golden_graph(spark)
        .translate_graph_ids(lambda c: c * 10)
        .translate_edge_values(lambda c: c + 100)
    )
    return g.edges


@_register(
    "rich_club_uu",
    _with(UU_EDGES_SQL, *kcore_mod.rich_club_ctes("uu_edges")),
)
def rich_club_uu(spark, sf_dir):
    """Rich-club coefficient phi(k) over a hub-degree ladder on the
    user co-occurrence graph — one degree table, two id joins, the
    whole ladder in two single-row conditional aggregates."""
    return kcore_mod.rich_club(user_cooccurrence_graph(spark, sf_dir))


@_register("hourly_anomaly", sess_mod.HOURLY_ANOMALY_SQL)
def hourly_anomaly(spark, sf_dir):
    """Each hour's event count z-scored against its own 3-hour trailing
    window per event_type (the monitoring-alert primitive); the window
    sorts the bounded cell table, never the raw event scan."""
    return sess_mod.hourly_anomaly(_events(spark, sf_dir))


@_register("event_transitions", sess_mod.EVENT_TRANSITIONS_SQL)
def event_transitions(spark, sf_dir):
    """Per-user event-sequence Markov transition counts + row
    probabilities — one window sort per user, then a transition-matrix-
    bounded aggregate."""
    return sess_mod.event_transitions(_events(spark, sf_dir))


@_register("token_entropy", text_mod.TOKEN_ENTROPY_SQL)
def token_entropy(spark, sf_dir):
    """Shannon entropy of each source's token distribution — the
    information-density screen; vocab-bounded cell aggregate."""
    return text_mod.token_entropy(_docs(spark, sf_dir))


@_register(
    "two_hop_ball_cs",
    _with(
        CS_EDGES_SQL,
        CS_VERTICES_SQL,
        nf_mod.TWO_HOP_SYM_SQL_TMPL.format(edges="cs_edges"),
        nf_mod.two_hop_oracle_sql("cs_vertices"),
    ),
)
def two_hop_ball_cs(spark, sf_dir):
    """Exact distinct 1- and 2-hop ball sizes on the customer-supplier
    graph — the ground truth the HLL neighborhood sketch approximates
    (cost Σ deg²: exact two-hop stays an anchor, the sketch is the
    100 TB path)."""
    return nf_mod.two_hop_balls(_cs(spark, sf_dir))


@_register(
    "bipartite_matching_cs",
    _with(CS_EDGES_SQL, *match_mod.oracle_ctes("cs_edges", 5)),
)
def bipartite_matching_cs(spark, sf_dir):
    """Maximal bipartite matching (deterministic propose-accept rounds)
    on the customer-supplier graph — assignment analytics; two max
    aggregates + two anti-joins per round on a shrinking edge set."""
    return match_mod.bipartite_matching(_cs(spark, sf_dir), max_rounds=5)


@_register("weighted_sample", text_mod.weighted_sample_sql())
def weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement as one
    top-k: rank by ln(u)/w from a portable id-hash uniform — the
    importance-sampling primitive for data mixing; map-side keys +
    TakeOrdered, no corpus sort."""
    return text_mod.weighted_sample(_docs(spark, sf_dir))


@_register("pq_codes", sim_mod.pq_codes_sql())
def pq_codes(spark, sf_dir):
    """Product-quantization codes (8 subspaces x 16 centroids = 4-bit
    codes, 32x compression): all subspaces Lloyd-train simultaneously
    through one broadcast join + two aggregates per round."""
    return sim_mod.pq_codes(_emb(spark, sf_dir))


@_register(
    "ngram_novelty",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.NGRAM_NOVELTY_SQL,
    ),
)
def ngram_novelty(spark, sf_dir):
    """Marginal-contribution screen: fraction of each doc's shingles not
    contributed by any earlier doc — data valuation without any pair
    join (one shingle-keyed min + one bounded agg)."""
    return dedup_mod.ngram_novelty(_docs(spark, sf_dir))


@_register("edge_growth_cs", sess_mod.EDGE_GROWTH_SQL)
def edge_growth_cs(spark, sf_dir):
    """Temporal graph growth: customer-supplier edge first appearances
    per month + cumulative graph size; cumulative windows over the
    month table, never the edge table."""
    return sess_mod.edge_growth(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@_register(
    "simhash_near_dup",
    _with(dedup_mod.DD_SQL, *dedup_mod.simhash_near_dup_sql()),
)
def simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs via banded hamming (Manku 2007): 4
    15-bit bands -> band-keyed candidate joins -> popcount confirm;
    recall exact for hamming <= 3 by pigeonhole. Runs on the
    dup-injected corpus so hamming-0 pairs exist."""
    return dedup_mod.simhash_near_dup(
        dedup_mod.with_synthetic_dups(_docs(spark, sf_dir))
    )


@_register("bpe_merges", bpe_mod.bpe_merges_sql())
def bpe_merges(spark, sf_dir):
    """BPE tokenizer merge training on the cluster: the first 4 learned
    merges over the corpus word-frequency table — each round one lead
    window + one pair aggregate + the gaps-and-islands greedy merge,
    replayed exactly by the oracle."""
    # vocab-bounded state (31 words on the synthetic corpus): the loop
    # is pure exchange scheduling, so size the shuffles to the frame
    with _fixture_partitions(spark, 4):
        return bpe_mod.bpe_merges(_docs(spark, sf_dir))


@_register("bpe_compression", bpe_mod.bpe_compression_sql())
def bpe_compression(spark, sf_dir):
    """Chars-per-piece compression per source under the trained 4-merge
    BPE vocabulary — fit-then-measure as one query; piece lengths read
    off the vocab-bounded trained state, corpus scanned once."""
    with _fixture_partitions(spark, 4):
        return bpe_mod.bpe_compression(_docs(spark, sf_dir))


@_register(
    "walk_skipgram_pairs",
    _with(
        UU_EDGES_SQL,
        """rw_vertices AS MATERIALIZED (
  SELECT id FROM (
    SELECT src AS id FROM uu_edges UNION SELECT dst AS id FROM uu_edges
  )
)""",
        sampling_mod.oracle_ctes("uu_edges", "rw_vertices", 3)[0],
        "wsg_walks AS MATERIALIZED ("
        + sampling_mod.oracle_ctes("uu_edges", "rw_vertices", 3)[1]
        + ")",
        sampling_mod.skipgram_oracle_sql(3, 2),
    ),
)
def walk_skipgram_pairs(spark, sf_dir):
    """DeepWalk training corpus: skip-gram (center, context) pairs from
    the deterministic random walks — one stack projection over the walk
    table, pair-vocabulary-bounded count."""
    return sampling_mod.walk_skipgram_pairs(
        user_cooccurrence_graph(spark, sf_dir), length=3, window=2
    )


@_register("boruvka_mst_grid", mst_mod.grid_oracle_sql(4, 5))
def boruvka_mst_grid(spark, sf_dir):
    """Minimum spanning forest via Boruvka rounds + pointer-jumping
    star contraction on the 4x5 grid (portable-hash weights): every
    round each component picks its lightest outgoing edge under the
    (w, src, dst) total order, 2-cycles collapse, components at least
    halve. Oracle replays the rounds unrolled."""
    with _fixture_partitions(spark, 4):
        return mst_mod.boruvka_mst(gen_mod.grid_graph(spark, 4, 5))


@_register("wl_colors_grid", wl_mod.grid_oracle_sql(4, 4))
def wl_colors_grid(spark, sf_dir):
    """1-WL color refinement on the 4x4 grid: canonical structural
    vertex classes (corner/edge/interior orbits) + the color-histogram
    graph fingerprint; one edge join + one sort-agg per round."""
    with _fixture_partitions(spark, 4):
        return wl_mod.wl_color_classes(gen_mod.grid_graph(spark, 4, 4))


@_register("streaming_hourly_anomaly", sess_mod.HOURLY_ANOMALY_SQL)
def streaming_hourly_anomaly(spark, sf_dir):
    """The monitoring-alert path end-to-end: the incremental streaming
    hourly rollup (availableNow snapshot) feeds the SAME z-score stage
    as the batch query — for a fully-arrived input the alerts must
    equal the batch anomaly table exactly (the oracle)."""
    stream = stream_mod.read_events_stream(spark, sf_dir)
    # same (event_type, hour)-keyed state sizing as streaming_hourly_rollup
    snap = stream_mod.run_available_now(
        stream_mod.streaming_hourly_rollup(stream), state_partitions=8
    )
    return sess_mod.anomaly_scores(
        snap.select("event_type", "hour", "n_events")
    )


@_register("knn_confusion", sim_mod.knn_confusion_sql())
def knn_confusion(spark, sf_dir):
    """Leave-one-out kNN confusion matrix over 100 query vectors — the
    quality report a similarity index ships with; label-count-bounded
    output, shares the vote machinery."""
    return sim_mod.knn_confusion(_emb(spark, sf_dir))


@_register("gram_matrix", sim_mod.gram_matrix_sql())
def gram_matrix(spark, sf_dir):
    """Upper triangle of X^T X over the embedding matrix — the
    sufficient statistic behind every linear probe / ridge / PCA fit;
    map-side partials cap the shuffle at partitions x DIM^2 cells."""
    return sim_mod.gram_matrix(_emb(spark, sf_dir))


@_register(
    "scd2_orders",
    _with(
        asof_mod.ORDERS_V2_SQL,
        asof_mod.SCD2_JOIN_SQL,
        asof_mod.SCD2_MERGE_SQL,
    ),
)
def scd2_orders(spark, sf_dir):
    """SCD2 dimension merge: snapshot v1 vs a deterministic v2
    (restated priorities, deletes, inserts) -> versioned history rows;
    one full outer join on the business key, no windows."""
    orders = load_table(spark, sf_dir, "orders")
    return asof_mod.scd2_merge(orders, asof_mod.orders_snapshot_v2(orders))


@_register("attribution_last_touch", sess_mod.ATTRIBUTION_SQL)
def attribution_last_touch(spark, sf_dir):
    """Last-touch purchase attribution: one per-user window with a
    masked last_value-ignorenulls — no self-join against the purchase
    subset."""
    return sess_mod.attribution_last_touch(_events(spark, sf_dir))


@_register("cohort_retention", sess_mod.COHORT_RETENTION_SQL)
def cohort_retention(spark, sf_dir):
    """The retention triangle: users bucketed by first-seen day,
    distinct-counted at every later active day offset — one min
    aggregate + one join + one bounded cell aggregate."""
    return sess_mod.cohort_retention(_events(spark, sf_dir))


@_register(
    "copurchase_lift",
    _with(
        PC_EDGES_SQL,
        """pc_deg AS MATERIALIZED (
  SELECT id, SUM(c) AS tot FROM (
    SELECT src AS id, value AS c FROM pc_edges
    UNION ALL SELECT dst, value FROM pc_edges) GROUP BY 1),
pc_n AS MATERIALIZED (SELECT SUM(value) AS n FROM pc_edges)""",
        """SELECT e.src, e.dst, CAST(e.value AS BIGINT) AS n_co,
       ROUND(e.value * 2.0 * n.n / (da.tot * db.tot), 6) AS lift
FROM pc_edges e
JOIN pc_deg da ON e.src = da.id
JOIN pc_deg db ON e.dst = db.id
CROSS JOIN pc_n n
ORDER BY lift DESC, e.src ASC, e.dst ASC LIMIT 50""",
    ),
)
def copurchase_lift(spark, sf_dir):
    """Association-rule lift over the co-purchase graph: top-50 part
    pairs by observed/expected co-occurrence — degree totals attach as
    dimension joins, the grand total as a 1-row broadcast scalar."""
    g = part_copurchase_graph(spark, sf_dir)
    e = g.edges
    deg = reuse_leaf(
        e.select(F.col("src").alias("id"), F.col("value").alias("c"))
        .unionByName(e.select(F.col("dst").alias("id"), F.col("value").alias("c")))
        .groupBy("id")
        .agg(F.sum("c").alias("tot"))
    )
    n = e.agg(F.sum("value").alias("n"))
    da = deg.select(F.col("id").alias("src"), F.col("tot").alias("ta"))
    db = deg.select(F.col("id").alias("dst"), F.col("tot").alias("tb"))
    return (
        e.join(da, "src")
        .join(db, "dst")
        .crossJoin(F.broadcast(n))
        .select(
            "src",
            "dst",
            F.col("value").cast("long").alias("n_co"),
            F.round(
                F.col("value") * 2.0 * F.col("n") / (F.col("ta") * F.col("tb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("src"), F.asc("dst"))
        .limit(50)
    )


@_register(
    "minhash_calibration",
    _with(
        text_mod.DOC_TOK_SQL,
        text_mod.DOC_SHINGLES_SQL,
        dedup_mod.minhash_sql_parts(),
        dedup_mod.MINHASH_CALIBRATION_SQL,
    ),
)
def minhash_calibration(spark, sf_dir):
    """Sketch-calibration readout: |MinHash-estimated - exact| Jaccard
    error over the LSH candidate pairs, 0.1-bucketed — measures the
    16-permutation estimator against ground truth on candidates only."""
    return dedup_mod.minhash_calibration(_docs(spark, sf_dir))


@_register(
    "entity_resolution",
    _with(ent_mod.DIRTY_SQL, ent_mod.entity_matches_sql()),
)
def entity_resolution(spark, sf_dir):
    """Record linkage: blocking-key equi-join (nation + name prefix)
    -> sorted-neighborhood rank window (r7 contract change: pairs must
    sit within NEIGHBORHOOD_WINDOW=16 ranks of the block's
    (name, key) order — one skewed block can no longer go K²; the
    window is replayed in the twin's ROW_NUMBER) -> Levenshtein
    similarity on surviving candidates -> matched pairs. Dirty clones
    injected deterministically; edit distance is integer-identical in
    both engines. Where the cap does not bind (every block at the
    shipped SFs) the match set is identical to all-pairs blocking
    (test-asserted)."""
    return ent_mod.entity_matches(
        ent_mod.with_dirty_customers(load_table(spark, sf_dir, "customer"))
    )


@_register("feature_propagation", sim_mod.feature_propagation_sql())
def feature_propagation(spark, sf_dir):
    """The GNN aggregation layer run relationally: 2 rounds of
    x' = 0.5x + 0.5*mean(kNN-neighbor x) — one edge join + one
    (vec, dim)-keyed mean per round; no vector array crosses a shuffle
    whole."""
    return sim_mod.feature_propagation(_emb(spark, sf_dir))


@_register(
    "sql_revenue_by_nation",
    """SELECT n.n_name AS nation,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM nation n
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1""",
)
def sql_revenue_by_nation(spark, sf_dir):
    """The pure-SQL surface: tables registered as temp views, the query
    written as ANSI SQL through spark.sql — Catalyst reorders the
    4-table join (nation/customer broadcast under AQE) exactly as the
    DataFrame plans do. Revenue in integer cents for exactness."""
    for t in ("nation", "customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """SELECT n.n_name AS nation,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM nation n
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1"""
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@_register(
    "event_type_pivot",
    "SELECT CAST(ts AS DATE) AS day,\n"
    + ",\n".join(
        f"       CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_{t}"
        for t in _EVENT_TYPES
    )
    + "\nFROM events GROUP BY 1",
)
def event_type_pivot(spark, sf_dir):
    """Wide daily activity matrix via the DataFrame pivot operator
    (explicit value list — no extra distinct pass); oracle is the
    equivalent conditional aggregation."""
    out = (
        _events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    cols = [F.col("day")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    return out.select(*cols)


@_register(
    "langid_confusion",
    _with(text_mod.DOC_TOK_SQL, *text_mod.langid_confusion_sql()),
)
def langid_confusion(spark, sf_dir):
    """Confusion matrix of the marker-word language classifier against
    the corpus lang ground truth — the shipped evaluation of a
    filtering classifier; label-count-bounded."""
    return text_mod.langid_confusion(spark, _docs(spark, sf_dir))


@_register("train_val_test_split", text_mod.TRAIN_VAL_TEST_SQL)
def train_val_test_split(spark, sf_dir):
    """Canonical 80/10/10 split, stratified per source via the
    deterministic Knuth-hash bucket — map-side assignment, auditable
    per-source report."""
    return text_mod.train_val_test_split(_docs(spark, sf_dir))


@_register(
    "quality_calibration",
    _with(
        text_mod.DOC_TOK_SQL,
        """SELECT CAST(LEAST(FLOOR((0.7 * (len(list_distinct(t)) * 1.0 / len(t))
         + 0.3 * (1.0 - len(list_filter(t, x -> x IN ('the', 'a', 'of',
           'and', 'is'))) * 1.0 / len(t))) * 10), 9) AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
       ROUND(AVG(len(t)), 6) AS mean_tokens
FROM doc_tok GROUP BY 1""",
    ),
)
def quality_calibration(spark, sf_dir):
    """Quality-score calibration curve: docs bucketed by score decile
    with per-bin doc/token mass — the threshold-picking diagnostic for
    the quality filter."""
    t = F.split(F.col("text"), " ")
    n_tok = F.size(t)
    q = F.lit(0.7) * (F.size(F.array_distinct(t)) / n_tok) + F.lit(0.3) * (
        F.lit(1.0)
        - F.expr(
            "size(filter(split(text, ' '), x -> x in ('the', 'a', 'of',"
            " 'and', 'is')))"
        )
        / n_tok
    )
    decile = F.least(F.floor(q * 10), F.lit(9)).cast("long")
    return (
        _docs(spark, sf_dir)
        .select(decile.alias("decile"), n_tok.alias("nt"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.round(F.avg("nt"), 6).alias("mean_tokens"),
        )
    )


@_register(
    "spectral_radius_uu",
    _with(
        UU_EDGES_SQL,
        """uu_vertices AS (
  SELECT src AS id FROM uu_edges UNION SELECT dst FROM uu_edges)""",
        *nf_mod.spectral_oracle_ctes("uu_edges", "uu_vertices", 5),
    ),
)
def spectral_radius_uu(spark, sf_dir):
    """Largest adjacency eigenvalue of the user co-occurrence graph via
    5 power-iteration rounds + a Rayleigh readout — the PageRank kernel
    without the teleport; one double per vertex of state."""
    return nf_mod.spectral_radius(user_cooccurrence_graph(spark, sf_dir))


@_register(
    "quality_length_corr",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(corr(len(t) * 1.0,
                  0.7 * (len(list_distinct(t)) * 1.0 / len(t))
                  + 0.3 * (1.0 - len(list_filter(t, x -> x IN ('the', 'a',
                    'of', 'and', 'is'))) * 1.0 / len(t))), 6) AS corr_len_q
FROM (SELECT string_split(text, ' ') AS t FROM documents)""",
)
def quality_length_corr(spark, sf_dir):
    """Pearson correlation of doc length vs quality score — the one-
    number check that the quality filter is not just a length filter."""
    t = F.split(F.col("text"), " ")
    n_tok = F.size(t)
    q = F.lit(0.7) * (F.size(F.array_distinct(t)) / n_tok) + F.lit(0.3) * (
        F.lit(1.0)
        - F.expr(
            "size(filter(split(text, ' '), x -> x in ('the', 'a', 'of',"
            " 'and', 'is')))"
        )
        / n_tok
    )
    return _docs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.corr(n_tok.cast("double"), q), 6).alias("corr_len_q"),
    )


@_register(
    "session_duration_histogram",
    _with(
        sess_mod.sessionize_sql()[0],
        "sess_t AS MATERIALIZED (\n" + sess_mod.sessionize_sql()[1] + "\n)",
        sess_mod.session_duration_histogram_sql(),
    ),
)
def session_duration_histogram(spark, sf_dir):
    """Engagement distribution: session durations in power-of-two
    minute buckets over the sessionizer's output — one extra bounded
    aggregate."""
    return sess_mod.session_duration_histogram(_events(spark, sf_dir))


@_register(
    "rmat_degree_zipf",
    _with(
        gen_mod.rmat_edges_sql(RMAT_SCALE, RMAT_EDGES),
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
       ROUND(regr_slope(ln(od * 1.0), ln(r * 1.0)), 6) AS zipf_slope
FROM (
    SELECT od, ROW_NUMBER() OVER (ORDER BY od DESC, src ASC) AS r
    FROM (SELECT src, COUNT(*) AS od FROM rmat_edges GROUP BY 1))""",
    ),
)
def rmat_degree_zipf(spark, sf_dir):
    """Power-law exponent of the generated RMat degree distribution —
    the zipf_slope machinery pointed at graph degrees; confirms the
    generator's skew numerically (OLS over ln-degree vs ln-rank).
    Ranks via rank_desc_scale_safe: degree-histogram offset +
    per-degree partitioned tie-break, so no single-partition window
    over the |V|-sized degree table."""
    deg = (
        gen_mod.rmat_edges(spark, RMAT_SCALE, RMAT_EDGES)
        .groupBy("src")
        .agg(F.count("*").alias("od"))
    )
    ranked = text_mod.rank_desc_scale_safe(deg, "od", "src")
    return ranked.agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.round(F.expr("regr_slope(ln(od * 1.0), ln(r * 1.0))"), 6).alias(
            "zipf_slope"
        ),
    )


@_register(
    "incremental_pagerank_golden",
    _with(
        GOLDEN_SQL,
        *incr_mod.incr_pagerank_oracle(
            "golden_edges", "golden_vertices", "(2, 5, 25)"
        ),
    ),
)
def incremental_pagerank_golden(spark, sf_dir):
    """PageRank maintained under edge insertion on the golden fixture:
    6 base supersteps, add edge (2,5), resume 3 supersteps from the old
    ranks instead of restarting at 1/n — the PageRank face of the
    incremental-maintenance contract."""
    with _fixture_partitions(spark, 4):
        g = golden_graph(spark)
        added = spark.createDataFrame(
            [(2, 5, 25)], "src long, dst long, value long"
        )
        return incr_mod.incremental_pagerank(g, added)


@_register(
    "source_top_terms",
    """WITH st_tf AS MATERIALIZED (
    SELECT source, tok, COUNT(*) AS tf FROM (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
    GROUP BY 1, 2),
st_df AS MATERIALIZED (
    SELECT tok, COUNT(*) AS df FROM st_tf GROUP BY 1),
st_n AS (SELECT CAST(COUNT(DISTINCT source)
                + MAX(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) AS ns
         FROM documents)
SELECT source, tok, CAST(tf AS BIGINT) AS tf,
       ROUND(tf * ln((SELECT ns FROM st_n) / df), 6) AS tfidf
FROM (
    SELECT t.source, t.tok, t.tf, d.df,
           ROW_NUMBER() OVER (
               PARTITION BY t.source
               ORDER BY t.tf * ln((SELECT ns FROM st_n) / d.df) DESC,
                        t.tok ASC) AS rn
    FROM st_tf t JOIN st_df d ON t.tok = d.tok)
WHERE rn <= 3""",
)
def source_top_terms(spark, sf_dir):
    """What characterizes each source: top-3 terms by source-level
    TF-IDF (idf over the SOURCE axis — terms common to every source
    wash out). Vocab-bounded aggregates; the ranking window runs over
    source x vocab cells, never token occurrences."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    ns = docs.select("source").distinct().count()
    scored = tf.join(df, "tok").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(ns)) / F.col("df"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "source",
            "tok",
            F.col("tf").cast("long").alias("tf"),
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


@_register(
    "reciprocity_golden_pc",
    _with(
        PC_EDGES_SQL,
        GOLDEN_EDGES_SQL,
        """SELECT g AS graph_name, CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_recip AS BIGINT) AS n_reciprocal,
       ROUND(n_recip * 1.0 / n_edges, 6) AS reciprocity
FROM (
    SELECT 'golden' AS g, COUNT(*) AS n_edges,
           SUM(CASE WHEN EXISTS (SELECT 1 FROM golden_edges r
                                 WHERE r.src = e.dst AND r.dst = e.src)
               THEN 1 ELSE 0 END) AS n_recip
    FROM golden_edges e
    UNION ALL
    SELECT 'pc', COUNT(*),
           SUM(CASE WHEN EXISTS (SELECT 1 FROM pc_edges r
                                 WHERE r.src = e.dst AND r.dst = e.src)
               THEN 1 ELSE 0 END)
    FROM pc_edges e)""",
    ),
)
def reciprocity_golden_pc(spark, sf_dir):
    """Directed-graph reciprocity (fraction of edges whose reverse
    exists) for the golden fixture and the co-purchase graph — one
    left-semi self-join per graph; the standard directionality
    diagnostic."""

    def recip(edges, name):
        e = edges.select("src", "dst")
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        n = e.count()
        r = e.join(rev, ["src", "dst"], "left_semi").count()
        return spark.createDataFrame(
            [(name, n, r, round(r / n, 6))],
            "graph_name string, n_edges long, n_reciprocal long,"
            " reciprocity double",
        )

    g = golden_graph(spark)
    pc = part_copurchase_graph(spark, sf_dir)
    return recip(g.edges, "golden").unionByName(recip(pc.edges, "pc"))


@_register(
    "source_diversity",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
       ROUND(1.0 - SUM(p * p), 6) AS simpson_index
FROM (
    SELECT COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS p
    FROM documents GROUP BY source)""",
)
def source_diversity(spark, sf_dir):
    """Corpus source diversity: the Simpson index 1 - sum(p_i^2) over
    source document shares — the one-number mixture-concentration
    check (0 = single source, ->1 = uniform)."""
    docs = _docs(spark, sf_dir)
    tot = docs.count()
    return (
        docs.groupBy("source")
        .agg((F.count("*") / F.lit(float(tot))).alias("p"))
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.round(F.lit(1.0) - F.sum(F.col("p") * F.col("p")), 6).alias(
                "simpson_index"
            ),
        )
    )


# ----------------------------------------------------------------------
# Registry ordering (driver contract) — round-9 rotation
# ----------------------------------------------------------------------
# The driver walks queries() in dict order under a ~50-query budget per
# round. All 194 queries are driver-signed (union r1-r8, zero failures
# ever recorded); freshness is the rotation metric. The lists below are
# REGENERATED each round from the committed CORRECTNESS_r*.json
# artifacts (newest-round-per-query) — they are rotation state, not
# history; stale copies must not survive a round.
#
# Front of the r9 gate order:
#   1. plan-changed this round (results and twins unchanged, but the
#      executed code path is new and deserves a fresh signature): the
#      whole triangle family (one-action wave sizing via the memoized
#      edge-count hint + pair-hashed wave slices) and
#      jaccard_part_copurchase (disk-bounded waves for the
#      full-adjacency attach, persisted-edge count at query start);
#   2. the 46 whose newest signature is CORRECTNESS_r05 — the stalest
#      block engine-wide (r8 retired every pre-r5 signature).
# That is 53 front entries for a ~50 window: the last few r5 names
# spill to the r10 front exactly as the r2 stragglers did in r8. The
# rest follows by ascending freshness (r6, r7, r8) so any budget
# overrun keeps retiring the stalest.

_R09_PLAN_CHANGED = [
    "jaccard_part_copurchase", "triangle_count_pc", "adamic_adar_pc",
    "triangles_per_vertex_uu", "clustering_coeff_uu", "edge_support_uu",
    "ktruss_uu"
]

_SIGNED_R5 = [
    "attribution_last_touch", "bipartite_matching_cs",
    "bloom_blocklist", "boruvka_mst_grid", "bpe_compression",
    "bpe_merges", "cohort_retention", "copurchase_lift",
    "cosine_pair_histogram", "edge_growth_cs",
    "embedding_dim_stats", "event_transitions", "event_type_pivot",
    "feature_propagation", "gram_matrix", "hourly_anomaly",
    "incremental_pagerank_golden", "knn_confusion",
    "langid_confusion", "minhash_calibration", "ngram_novelty",
    "pq_codes", "quality_calibration", "quality_length_corr",
    "reciprocity_golden_pc", "rich_club_uu", "rmat_degree_zipf",
    "scc_fixture", "scd2_orders", "session_duration_histogram",
    "simhash_near_dup", "source_diversity", "source_top_terms",
    "spectral_radius_uu", "sql_revenue_by_nation",
    "streaming_click_purchase", "streaming_hourly_anomaly",
    "summarize_nation_edges", "summarize_nation_vertices",
    "token_entropy", "train_val_test_split", "two_hop_ball_cs",
    "vocab_coverage", "walk_skipgram_pairs", "weighted_sample",
    "wl_colors_grid"
]

_SIGNED_R6 = [
    "ann_topk_bruteforce", "ann_topk_ivf", "ann_topk_lsh", "cc_cs",
    "cc_golden", "degrees_in", "degrees_out", "degrees_total",
    "difference_graphs", "filter_on_edges",
    "filter_on_vertices_edges", "golden_mutations", "graph_metrics",
    "intersect_graphs", "is_weakly_connected_golden",
    "jaccard_part_copurchase", "join_with_edges",
    "join_with_edges_on_source", "join_with_edges_on_target",
    "join_with_vertices", "json_k_stats", "lang_id", "lpa_cs",
    "lpa_golden", "map_edges", "map_vertices", "pagerank_cs",
    "pagerank_golden", "quality_score", "reduce_on_edges_all",
    "reduce_on_edges_in", "reduce_on_edges_out",
    "reduce_on_edges_with_vv", "reduce_on_neighbors_all",
    "reduce_on_neighbors_in", "reduce_on_neighbors_out",
    "reduce_on_neighbors_with_vv", "reverse_edges", "sssp_cs",
    "sssp_golden", "subgraph_edges", "subgraph_vertices",
    "text_stats", "token_counts", "top_degree_vertices", "triplets",
    "undirected_edges", "union_graphs", "uu_graph_edges",
    "validate_vertex_ids"
]

_SIGNED_R7 = [
    "ann_topk_lsh_at_rest", "asof_order_events", "bm25_search",
    "cc_pc", "clustering_coeff_uu", "contamination_check",
    "corpus_prep", "dedup_clusters", "dedup_exact",
    "dedup_exact_stats", "dedup_minhash_lsh", "dedup_ngram_topk",
    "degree_histogram", "doc_fingerprint", "embedding_near_dup",
    "entity_resolution", "event_funnel", "hits_cs",
    "hll_user_estimate", "hourly_retention", "hourly_rollup",
    "json_source_rollup", "kcore_uu", "length_quantiles", "mis_uu",
    "multimodal_features", "music_profiles_communities",
    "pack_sequences", "pagerank_pc", "pii_scrub", "random_walks_uu",
    "repetition_ratio", "sessionize_events",
    "shared_top_event_edges", "simhash_docs", "sliding_rollup",
    "stratified_sample", "streaming_dedup_keys",
    "streaming_degrees", "streaming_hourly_rollup",
    "streaming_nation_counts", "streaming_sessionize",
    "streaming_user_totals", "tfidf_top_terms",
    "top_event_per_user", "top_events_per_user", "top_shingles",
    "triangle_count_pc"
]

_SIGNED_R8 = [
    "adamic_adar_pc", "assortativity_uu", "betweenness_grid",
    "bigram_nll", "bipartite_projection_cs", "boilerplate_flags",
    "chunk_documents", "closeness_sample_uu", "collocations_pmi",
    "community_detection_uu", "corpus_report", "count_min_tokens",
    "cross_source_overlap", "dag_longest_path", "dedup_keep_set",
    "edge_support_uu", "effective_diameter_uu",
    "embedding_label_spread", "embedding_outliers",
    "embedding_quantize", "graph_coloring_grid", "gsa_sssp_golden",
    "histogram_quantiles", "incremental_sssp_golden",
    "kmeans_clusters", "knn_label_vote", "ktruss_uu",
    "mixture_weights", "neighborhood_function_uu",
    "ngram_containment_topk", "pagerank_bucketed_cs",
    "passage_dedup", "ppr_cs", "pretrain_funnel",
    "principal_direction", "quality_filters",
    "rmat_degree_histogram", "semantic_dedup_clusters",
    "semantic_dedup_lsh", "skipgram_pairs", "source_quota_sample",
    "streaming_quality_by_source", "token_budget_select",
    "translate_golden", "triangles_per_vertex_uu", "unigram_nll",
    "vertex_metrics_cs", "weighted_pagerank_cs", "winnow_dup_pairs",
    "zipf_slope"
]


def _apply_priority_order() -> None:
    front = _R09_PLAN_CHANGED + [
        q for q in _SIGNED_R5 if q not in set(_R09_PLAN_CHANGED)
    ]
    rest = _SIGNED_R6 + _SIGNED_R7 + _SIGNED_R8
    order = front + [q for q in rest if q not in set(front)]
    assert set(order) <= set(SPARK_QUERIES), set(order) - set(SPARK_QUERIES)
    order += [n for n in SPARK_QUERIES if n not in set(order)]
    for d in (SPARK_QUERIES, ORACLE_SQL):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in order if n in snapshot})


_apply_priority_order()
