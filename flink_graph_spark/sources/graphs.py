"""Graph views derived from the driver tables (FIXTURES.md §C), each with
its DuckDB-SQL twin so every downstream operator query is oracle-able.

The Spark builder and the SQL CTE string are kept adjacent and MUST stay
semantically identical — the driver hashes the results of both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.layout import layout_partitions, measured_bytes
from .tables import load_table

SUPPLIER_OFFSET = 1_000_000

# Builder memo: one Graph object per (builder, session, sf_dir). Spark's
# CacheManager already dedupes the persisted DATA across identical plans,
# but re-running a builder still rebuilt the Python/Catalyst plan objects
# and re-issued persist() calls on every query, and per-Graph memoized
# scalars (vertex_count for PageRank's 1/n) were lost between queries.
_GRAPH_MEMO: dict[tuple, Graph] = {}


def _memo_graph(name: str):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str, *a, **kw):
            if a or kw:  # non-default params: bypass the memo
                return fn(spark, sf_dir, *a, **kw)
            key = (name, spark.sparkContext.applicationId, sf_dir)
            g = _GRAPH_MEMO.get(key)
            if g is None:
                g = fn(spark, sf_dir)
                _GRAPH_MEMO[key] = g
            return g

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        return wrapped

    return deco

# --- C.1 customer–supplier bipartite graph (flagship) -----------------

CS_EDGES_SQL = f"""
cs_edges AS MATERIALIZED (
    -- NULL keys produce no edge: an edge to an unknown entity is
    -- meaningless, and a NULL vertex id survives union+distinct but
    -- silently drops out of every equality join downstream (the Spark
    -- loop's LEFT join keeps it, the unrolled twin's INNER join does
    -- not — a NULL FK in the source data would diverge the engines)
    SELECT o_custkey AS src,
           l_suppkey + {SUPPLIER_OFFSET} AS dst,
           CAST(COUNT(*) AS BIGINT) AS value
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
    GROUP BY 1, 2
)"""

CS_VERTICES_SQL = """
cs_vertices AS MATERIALIZED (
    SELECT id, id AS value FROM (
        SELECT src AS id FROM cs_edges
        UNION
        SELECT dst AS id FROM cs_edges
    )
)"""


@_memo_graph("cs")
def customer_supplier_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """edges = distinct (customer, supplier) pairs from orders ⋈ lineitem,
    weight = number of lineitems; supplier ids offset by 1e6 to disjoint
    the id spaces. Vertex value = id.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        # NULL keys produce no edge (derived graphs are sanitized by
        # construction; see CS_EDGES_SQL for why NULL ids diverge)
        .where(
            F.col("o_custkey").isNotNull() & F.col("l_suppkey").isNotNull()
        )
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("value"))
    )
    # Persist the derived edge table hash-partitioned by src (the 100 TB
    # posture: a src-bucketed edge table). Every consumer re-reads it —
    # re-deriving means re-scanning orders x lineitem — and src-keyed
    # joins/aggs (degrees, message sends) reuse the cached partitioning.
    g = Graph.from_edges(edges.repartition("src").persist())
    # the derived vertex set (distinct endpoints) is also persisted —
    # it's tiny relative to the edges, and every consumer (counts, pregel
    # init, degree joins) otherwise re-runs the union+distinct shuffle
    return Graph(
        g.vertices.persist(), g.edges,
        # groupBy output: one row per (src, dst) by construction
        distinct_edges=True,
    )


@_memo_graph("cs_und")
def customer_supplier_undirected_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Symmetrized customer–supplier graph, shared by every undirected
    iterative consumer (CC, SSSP, LPA) instead of each query re-deriving,
    re-shuffling and re-caching its own copy.

    Laid out for ``pregel``'s pull: the edges hash-partitioned by
    ``dst`` (the table is symmetric, so CC and SSSP message to ``dst``)
    into an n sized from the measured cs cache
    (``plans.layout.layout_partitions``), and the vertices, every ``dst``
    of that table once, in the same partitions by ``id``. The edge cache
    is counted before the vertex cache is planned: a persisted
    ``repartition(n, key)`` shows its partitioning to the planner only
    once materialized, and then the vertices derive from it without an
    exchange. A superstep joins the broadcast state to the edges where
    they are stored, and groups and updates by id without an exchange.
    """
    g = customer_supplier_graph(spark, sf_dir)
    nbytes = measured_bytes(g.edges)
    if nbytes is None:  # not loaded yet
        g.edges.count()
        nbytes = measured_bytes(g.edges)
    ue = (
        g.edges.unionByName(
            g.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "value"
            )
        )
        .repartition(layout_partitions(spark, 2 * nbytes), "dst")
        .persist()
    )
    ue.count()
    v = (
        ue.select(F.col("dst").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("value"))
        .persist()
    )
    v.count()
    # shares the directed graph's vertex-count memo (same vertex set):
    # pagerank-over-undirected issues no second count job
    return g._count_preserved(
        # distinct forward pairs ∪ their reverses over disjoint id spaces:
        # no duplicate rows in the symmetrized table
        Graph(v, ue, distinct_edges=True)
    )


@_memo_graph("cs_bucketed")
def customer_supplier_bucketed_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Customer–supplier graph whose edge table is read back from a
    src-BUCKETED parquet table (the at-rest 100 TB posture,
    SCALING.md §7): bucket metadata flows from the catalog, so every
    src-keyed consumer — degree aggs, joins on src — starts co-located
    straight off disk with ZERO Exchange on the edge side, across
    sessions, which a transient ``repartition()`` cannot provide.
    Written once per (session, sf) by the memo; the table is external at
    a scratch path so the gate never writes into a cwd-relative
    warehouse dir.
    """
    import re as _re

    from .sinks import read_edges_bucketed, write_edges_bucketed

    g = customer_supplier_graph(spark, sf_dir)
    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    table = f"cs_edges_by_src_{tag}"
    write_edges_bucketed(
        g, table, buckets=32, path=f"/tmp/spark_graft_bucketed/{table}"
    )
    e = read_edges_bucketed(spark, table)
    # count memo shared (same vertex set)
    return g._count_preserved(Graph(g.vertices, e, distinct_edges=g.distinct_edges))


# --- C.2 user–user co-occurrence graph --------------------------------

UU_CELL_CAP = 512

UU_EDGES_SQL = f"""
uu_base AS MATERIALIZED (
    SELECT user_id, event_type, hb FROM (
        SELECT user_id, event_type, hb,
               ROW_NUMBER() OVER (PARTITION BY event_type, hb
                                  ORDER BY user_id) AS rn
        FROM (SELECT DISTINCT user_id, event_type,
                     date_trunc('hour', ts) AS hb
              FROM events)
    ) WHERE rn <= {UU_CELL_CAP}
),
uu_edges AS MATERIALIZED (
    SELECT a.user_id AS src, b.user_id AS dst,
           CAST(COUNT(*) AS BIGINT) AS value
    FROM uu_base a
    JOIN uu_base b
      ON a.event_type = b.event_type AND a.hb = b.hb
         AND a.user_id < b.user_id
    GROUP BY 1, 2
)"""


@_memo_graph("uu")
def user_cooccurrence_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Edges between users co-occurring on the same event_type within the
    same hour bucket; weight = number of co-occurring (type, hour) cells.
    src < dst (undirected-canonical form).

    Hot-cell guard: each (event_type, hour) cell is capped to its first
    ``UU_CELL_CAP`` members (deterministic: lowest user_id) BEFORE the
    self-join — a cell with m members otherwise contributes m² join
    rows, so one viral cell (every user firing the same event in the
    same hour) turns the build quadratic at real event volumes. The cap
    bounds any cell's contribution at cell_cap², making worst-case cost
    n_cells × cell_cap² regardless of skew (SCALING.md §8). The window
    ranks within the same (event_type, hb) key the join shuffles on, so
    the cap adds no extra exchange.
    """
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "hb").orderBy("user_id")
    base = (
        events.select(
            "user_id", "event_type", F.date_trunc("hour", "ts").alias("hb")
        )
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= UU_CELL_CAP)
        .drop("rn")
    )
    a = base.alias("a")
    b = base.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("value"))
    )
    # src-partitioned persisted derived edges — see customer_supplier_graph
    g = Graph.from_edges(edges.repartition("src").persist())
    # the derived vertex set (distinct endpoints) is also persisted —
    # it's tiny relative to the edges, and every consumer (counts, pregel
    # init, degree joins) otherwise re-runs the union+distinct shuffle
    return Graph(
        g.vertices.persist(), g.edges,
        # groupBy output over src < dst pairs: canonical undirected form
        distinct_edges=True, canonical_edges=True,
    )


# --- C.3 part co-purchase graph ---------------------------------------

PC_EDGES_SQL = """
pc_edges AS MATERIALIZED (
    SELECT a.l_partkey AS src, b.l_partkey AS dst,
           CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS value
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)"""


@_memo_graph("pc")
def part_copurchase_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Self-join of lineitem on l_orderkey (src < dst), weight = number of
    distinct orders sharing the part pair.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.countDistinct("a.l_orderkey").cast("long").alias("value"))
    )
    # src-partitioned persisted derived edges — see customer_supplier_graph
    g = Graph.from_edges(edges.repartition("src").persist())
    # the derived vertex set (distinct endpoints) is also persisted —
    # it's tiny relative to the edges, and every consumer (counts, pregel
    # init, degree joins) otherwise re-runs the union+distinct shuffle
    return Graph(
        g.vertices.persist(), g.edges,
        # groupBy output over l_partkey < l_partkey pairs: canonical form
        distinct_edges=True, canonical_edges=True,
    )


# --- C.4 golden fixture graph (reference TestGraphUtils) --------------

GOLDEN_VERTICES = [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)]
GOLDEN_EDGES = [
    (1, 2, 12),
    (1, 3, 13),
    (2, 3, 23),
    (3, 4, 34),
    (3, 5, 35),
    (4, 5, 45),
    (5, 1, 51),
]

GOLDEN_VERTICES_SQL = """
golden_vertices AS (
    SELECT CAST(id AS BIGINT) AS id, CAST(value AS BIGINT) AS value
    FROM (VALUES (1,1),(2,2),(3,3),(4,4),(5,5)) AS t(id, value)
)"""

GOLDEN_EDGES_SQL = """
golden_edges AS (
    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(value AS BIGINT) AS value
    FROM (VALUES (1,2,12),(1,3,13),(2,3,23),(3,4,34),(3,5,35),(4,5,45),(5,1,51))
         AS t(src, dst, value)
)"""

# both tables, for oracles that read vertices AND edges; edge-only
# oracles compose GOLDEN_EDGES_SQL so no dangling vertex CTE rides along
GOLDEN_SQL = GOLDEN_VERTICES_SQL + "," + GOLDEN_EDGES_SQL


def golden_graph(spark: SparkSession) -> Graph:
    """The reference's canonical 5-vertex/7-edge test fixture
    (TestGraphUtils.getLongLongVertexData/getLongLongEdgeData ~L20-60).
    """
    return Graph.from_collection(spark, GOLDEN_VERTICES, GOLDEN_EDGES)
