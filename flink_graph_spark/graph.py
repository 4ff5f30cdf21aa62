"""DataFrame-native property graph — the engine core.

A ``Graph`` is a pair of DataFrames:

* ``vertices`` — one row per vertex: ``id`` plus any value columns
  (canonically a single ``value`` column).
* ``edges`` — one row per directed edge: ``src``, ``dst`` plus any value
  columns (canonically ``value``). Directed multigraph; undirectedness is
  simulated by symmetrizing (``get_undirected``), exactly like the
  reference.

Reference parity: andralungu/flink-graph
``src/main/java/flink/graphs/Graph.java`` (the ~900-LoC god class wrapping
two Flink DataSets; see SURVEY.md §1.1/§2). This is NOT a port — every
operator here is a declarative Spark DataFrame expression so Catalyst
plans it (predicate pushdown, broadcast/SMJ selection, AQE skew handling,
whole-stage codegen). No RDDs, no collect() in any operator path.

Scale notes (100 TB posture):
* All joins are equi-joins on stable BIGINT keys → AQE picks
  broadcast/shuffled-hash/sort-merge; callers can pass pre-partitioned /
  persisted frames and the class never forces a repartition behind the
  caller's back.
* Degree/neighborhood ops aggregate BEFORE joining back to vertices
  (partial aggregation halves shuffle traffic automatically).
* ``aggregate_messages`` is the single join+agg primitive every
  neighborhood op and the Pregel loop compile to.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.reuse import reuse_leaf


class EdgeDirection(Enum):
    """Which incident edges a neighborhood op groups over.

    Reference: flink.graphs.EdgeDirection (IN/OUT/ALL), ~15 LoC.
    """

    IN = "in"
    OUT = "out"
    ALL = "all"


class InvalidGraphError(ValueError):
    pass


@dataclass(frozen=True)
class GraphSchema:
    vertex_value_cols: tuple[str, ...]
    edge_value_cols: tuple[str, ...]


class Graph:
    """Property graph over two DataFrames.

    Reference: flink.graphs.Graph (Graph.java ~L40-70 fields/ctor).
    """

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        distinct_edges: bool = False,
        canonical_edges: bool = False,
    ):
        vcols = vertices.columns
        ecols = edges.columns
        if "id" not in vcols:
            raise InvalidGraphError(f"vertices must have an 'id' column, got {vcols}")
        if "src" not in ecols or "dst" not in ecols:
            raise InvalidGraphError(f"edges must have 'src' and 'dst' columns, got {ecols}")
        self._vertices = vertices
        self._edges = edges
        #: construction-time guarantee that no (src, dst) edge row is
        #: duplicated (e.g. the edge table is a groupBy output). Lets
        #: multigraph-guarded consumers (the triangle family) skip
        #: their defensive `.distinct()` — at scale that is one full
        #: edge-table shuffle, recomputed per plan leg. False means
        #: "unknown", not "has duplicates": consumers must dedup.
        self.distinct_edges = distinct_edges
        #: STRICTLY STRONGER guarantee than ``distinct_edges``: every
        #: edge row additionally satisfies src < dst (undirected-
        #: canonical form), so a least/greatest projection is the
        #: identity and stays duplicate-free. ``distinct_edges`` alone
        #: does NOT imply this — a symmetrized graph carries both
        #: orientations as distinct directed rows, and canonicalizing
        #: them produces exact duplicates (the r7 Adamic–Adar 2x bug).
        #: Consumers that canonicalize internally must gate their dedup
        #: skip on THIS flag, never on ``distinct_edges``.
        self.canonical_edges = canonical_edges
        if canonical_edges and not distinct_edges:
            # canonical implies distinct by definition
            self.distinct_edges = True
        # Memoized scalar vertex count, held in a one-slot list so
        # vertex-preserving derivations (reverse, edge maps/joins,
        # the symmetrized view) SHARE the memo with
        # their parent: whichever graph counts first, the whole family
        # is filled — one count job per distinct vertex set per session.
        self._n_cell: list[int | None] = [None]
        # Memoized scalar edge count (same one-slot-list contract as
        # _n_cell, but NOT shared by _count_preserved — several of its
        # users rewrite the edge set). Fills on first edge_count();
        # used by the triangle family's wave sizing as a cheap upper
        # bound that skips the sizing action entirely at small scale.
        self._m_cell: list[int | None] = [None]
        self._schema = GraphSchema(
            vertex_value_cols=tuple(c for c in vcols if c != "id"),
            edge_value_cols=tuple(c for c in ecols if c not in ("src", "dst")),
        )

    # ------------------------------------------------------------------
    # §2.1 construction / accessors
    # ------------------------------------------------------------------

    @staticmethod
    def create(vertices: DataFrame, edges: DataFrame) -> "Graph":
        """Wrap pre-built DataFrames (Graph.create, Graph.java ~L80-100)."""
        return Graph(vertices, edges)

    @staticmethod
    def from_edges(edges: DataFrame) -> "Graph":
        """Derive the vertex set as the distinct edge endpoints.

        Reference: Graph.create(DataSet<Edge>, env), Graph.java ~L100-130.
        Vertex value defaults to the id itself (the reference uses
        NullValue; a typed value keeps downstream ops oracle-able).
        """
        ids = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return Graph(ids.select("id", F.col("id").alias("value")), edges)

    @staticmethod
    def from_collection(
        spark: SparkSession,
        vertices: Iterable[tuple],
        edges: Iterable[tuple],
        vertex_schema: str = "id long, value long",
        edge_schema: str = "src long, dst long, value long",
    ) -> "Graph":
        """Local collections → graph (Graph.fromCollection, ~L650-690)."""
        return Graph(
            spark.createDataFrame(list(vertices), schema=vertex_schema),
            spark.createDataFrame(list(edges), schema=edge_schema),
        )

    @property
    def vertices(self) -> DataFrame:
        """getVertices(), Graph.java ~L72-78."""
        return self._vertices

    @property
    def edges(self) -> DataFrame:
        """getEdges(), Graph.java ~L72-78."""
        return self._edges

    def vertex_ids(self) -> DataFrame:
        """getVertexIds(), Graph.java ~L540-560 — pure projection."""
        return self._vertices.select("id")

    def edge_ids(self) -> DataFrame:
        """getEdgeIds() — (src, dst) projection."""
        return self._edges.select("src", "dst")

    def num_vertices(self) -> DataFrame:
        """numberOfVertices() as a 1-row frame (GraphUtils.count ~L20-45)."""
        return self._vertices.agg(F.count("*").alias("n_vertices"))

    def vertex_count(self) -> int:
        """Scalar numberOfVertices(), memoized: algorithms that need n as
        a plan constant (PageRank's 1/n teleport) pay the eager count job
        once per Graph object, not once per call.
        """
        if self._n_cell[0] is None:
            self._n_cell[0] = self._vertices.count()
        return self._n_cell[0]

    def num_edges(self) -> DataFrame:
        return self._edges.agg(F.count("*").alias("n_edges"))

    def edge_count(self) -> int:
        """Scalar numberOfEdges(), memoized per Graph object (same
        contract as :meth:`vertex_count`). The raw row count is an
        UPPER bound on any deduped/canonicalized derivation, which is
        exactly what the triangle family's wave sizing needs — below
        the wave threshold it can skip its own sizing action."""
        if self._m_cell[0] is None:
            self._m_cell[0] = self._edges.count()
        return self._m_cell[0]

    def edge_count_hint(self) -> int | None:
        """The memoized edge count if some caller already paid the
        count job, else None — for consumers that can exploit a bound
        opportunistically but must never pay an extra action for it
        (the triangle family's wave sizing)."""
        return self._m_cell[0]

    # ------------------------------------------------------------------
    # §2.2 per-element transforms
    # ------------------------------------------------------------------

    def _count_preserved(self, g: "Graph") -> "Graph":
        """Share the vertex-count memo cell with a derived graph whose
        vertex SET is unchanged (edge rewrites, value rewrites, edge
        filters, re-partitionings): whichever family member counts
        first fills the memo for all — one count job per distinct
        vertex set per session, not per derived Graph object."""
        g._n_cell = self._n_cell
        return g

    def map_vertices(self, expr: Column, out_col: str = "value") -> "Graph":
        """Rewrite every vertex value, id preserved (mapVertices ~L140-170).

        ``expr`` is a Column over the vertex row (may reference ``id`` and
        any value column) — stays in whole-stage codegen.
        """
        return self._count_preserved(
            Graph(self._vertices.select("id", expr.alias(out_col)), self._edges)
        )

    def map_edges(self, expr: Column, out_col: str = "value") -> "Graph":
        """Rewrite every edge value, endpoints preserved (mapEdges ~L175-205)."""
        return self._count_preserved(
            Graph(self._vertices, self._edges.select("src", "dst", expr.alias(out_col)))
        )

    def translate_graph_ids(self, fn) -> "Graph":
        """Rewrite every vertex id AND both edge endpoints through
        ``fn: Column -> Column`` (Gelly-successor
        org.apache.flink.graph.asm.translate.TranslateGraphIds; the
        prototype reference predates it). ``fn`` must be injective or
        distinct vertices collapse — same contract as Gelly's
        TranslateFunction. Pure projection on both frames: no shuffle,
        counts preserved."""
        v_others = [c for c in self._vertices.columns if c != "id"]
        e_others = [
            c for c in self._edges.columns if c not in ("src", "dst")
        ]
        return self._count_preserved(
            Graph(
                self._vertices.select(
                    fn(F.col("id")).alias("id"), *v_others
                ),
                self._edges.select(
                    fn(F.col("src")).alias("src"),
                    fn(F.col("dst")).alias("dst"),
                    *e_others,
                ),
            )
        )

    def translate_vertex_values(self, fn) -> "Graph":
        """Gelly TranslateVertexValues — :meth:`map_vertices` with the
        translator applied to the current value column."""
        return self.map_vertices(fn(F.col("value")), out_col="value")

    def translate_edge_values(self, fn) -> "Graph":
        """Gelly TranslateEdgeValues — :meth:`map_edges` with the
        translator applied to the current value column."""
        return self.map_edges(fn(F.col("value")), out_col="value")

    def reverse(self) -> "Graph":
        """Swap src/dst of every edge (reverse ~L380-400)."""
        others = [c for c in self._edges.columns if c not in ("src", "dst")]
        return self._count_preserved(
            Graph(
                self._vertices,
                self._edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), *others
                ),
                # endpoint swap is a row bijection: distinctness survives
                distinct_edges=self.distinct_edges,
            )
        )

    def get_undirected(self) -> "Graph":
        """Edges ∪ reversed edges, duplicates kept (getUndirected ~L360-378)."""
        return self._count_preserved(
            Graph(self._vertices, self._edges.unionByName(self.reverse().edges))
        )

    def symmetrized_edges(self) -> DataFrame:
        """(src, dst): both directions of every edge, duplicates dropped."""
        e = self._edges.select("src", "dst")
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    def simple_undirected_edges(self) -> DataFrame:
        """``symmetrized_edges`` without self-loops: the neighbor table of
        the simple undirected view. The loop filter follows the union, so
        it drops both directions of a loop."""
        return self.symmetrized_edges().where(F.col("src") != F.col("dst"))

    # ------------------------------------------------------------------
    # §2.3 filters / subgraph
    # ------------------------------------------------------------------

    def subgraph(self, vertex_pred: Column, edge_pred: Column) -> "Graph":
        """Keep vertices passing vertex_pred and edges passing edge_pred
        whose BOTH endpoints survive (subgraph, Graph.java ~L210-260).

        Two LEFT SEMI joins + filter — the reference's
        filter→join-on-src→join-on-dst shape, Catalyst-planned. Both
        joins read one id leaf (``plans.reuse``), so the id side is
        shuffled or broadcast once.
        """
        v2 = self._vertices.filter(vertex_pred)
        ids = reuse_leaf(v2.select("id"))
        e2 = (
            self._edges.join(ids, self._edges["src"] == ids["id"], "left_semi")
            .join(ids, F.col("dst") == ids["id"], "left_semi")
            .filter(edge_pred)
        )
        # semi-joins and the filter only drop edge rows: distinctness
        # survives from the parent
        return Graph(v2, e2, distinct_edges=self.distinct_edges)

    def filter_on_vertices(self, vertex_pred: Column) -> "Graph":
        """subgraph with edge-pred = true (filterOnVertices ~L265-300)."""
        return self.subgraph(vertex_pred, F.lit(True))

    def filter_on_edges(self, edge_pred: Column) -> "Graph":
        """Filter edges only; vertex set unchanged (filterOnEdges ~L305-330)."""
        return self._count_preserved(
            # filtering only drops rows: distinctness survives
            Graph(
                self._vertices,
                self._edges.filter(edge_pred),
                distinct_edges=self.distinct_edges,
            )
        )

    # ------------------------------------------------------------------
    # §2.4 joins with external datasets (left-outer, merge on match)
    # ------------------------------------------------------------------

    def join_with_vertices(
        self, other: DataFrame, merge: Callable[[Column, Column], Column]
    ) -> "Graph":
        """vertices ⟕ other(id, <t>) — on match value' = merge(value, t),
        else keep old value (joinWithVertices ~L405-445).

        ``other`` must have exactly (id, one value column). Broadcast-able
        small side is left to AQE / caller's F.broadcast.
        """
        tcol = [c for c in other.columns if c != "id"][0]
        o = other.select(
            F.col("id").alias("__jid"),
            F.col(tcol).alias("__t"),
            F.lit(True).alias("__matched"),
        )
        keep = [c for c in self._vertices.columns if c not in ("id", "value")]
        merged = (
            self._vertices.join(o, self._vertices["id"] == o["__jid"], "left")
            .select(
                "id",
                *keep,
                F.when(F.col("__matched").isNotNull(), merge(F.col("value"), F.col("__t")))
                .otherwise(F.col("value"))
                .alias("value"),
            )
        )
        return self._count_preserved(
            Graph(merged.select(*self._vertices.columns), self._edges)
        )

    def _join_with_edges_on(
        self,
        other: DataFrame,
        keys_graph: Sequence[str],
        keys_other: Sequence[str],
        merge: Callable[[Column, Column], Column],
        value_col: str = "value",
    ) -> "Graph":
        tcol = [c for c in other.columns if c not in keys_other][0]
        sel = [F.col(k).alias(f"__k{i}") for i, k in enumerate(keys_other)]
        o = other.select(
            *sel, F.col(tcol).alias("__t"), F.lit(True).alias("__matched")
        )
        cond = None
        for i, k in enumerate(keys_graph):
            c = self._edges[k] == o[f"__k{i}"]
            cond = c if cond is None else (cond & c)
        keep = [c for c in self._edges.columns if c not in ("src", "dst", value_col)]
        merged = self._edges.join(o, cond, "left").select(
            "src",
            "dst",
            *keep,
            F.when(F.col("__matched").isNotNull(), merge(F.col(value_col), F.col("__t")))
            .otherwise(F.col(value_col))
            .alias(value_col),
        )
        return self._count_preserved(
            Graph(self._vertices, merged.select(*self._edges.columns))
        )

    def join_with_edges(
        self, other: DataFrame, merge: Callable[[Column, Column], Column]
    ) -> "Graph":
        """edges ⟕ other(src, dst, t) on (src,dst) (joinWithEdges ~L450-490)."""
        return self._join_with_edges_on(other, ["src", "dst"], ["src", "dst"], merge)

    def join_with_edges_on_source(
        self, other: DataFrame, merge: Callable[[Column, Column], Column]
    ) -> "Graph":
        """edges ⟕ other(id, t) on src (joinWithEdgesOnSource ~L495-515)."""
        return self._join_with_edges_on(other, ["src"], ["id"], merge)

    def join_with_edges_on_target(
        self, other: DataFrame, merge: Callable[[Column, Column], Column]
    ) -> "Graph":
        """edges ⟕ other(id, t) on dst (joinWithEdgesOnTarget ~L517-537)."""
        return self._join_with_edges_on(other, ["dst"], ["id"], merge)

    # ------------------------------------------------------------------
    # §2.5 degrees & neighborhood aggregations
    # ------------------------------------------------------------------

    def out_degrees(self) -> DataFrame:
        """Per-vertex out-degree, 0 for sinks (outDegrees ~L335-358).

        Hash agg on edges (partial+final, map-side combine automatic)
        then LEFT join back to vertices — never the other way round, so
        the big edge table is aggregated before any join.
        """
        counts = self._edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("__d")
        )
        return (
            self._vertices.select("id")
            .join(counts, "id", "left")
            .select("id", F.coalesce("__d", F.lit(0)).cast("long").alias("degree"))
        )

    def in_degrees(self) -> DataFrame:
        """inDegrees ~L352-356 (reverse().outDegrees() in the reference)."""
        counts = self._edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("__d")
        )
        return (
            self._vertices.select("id")
            .join(counts, "id", "left")
            .select("id", F.coalesce("__d", F.lit(0)).cast("long").alias("degree"))
        )

    def degrees(self) -> DataFrame:
        """in+out degree (getDegrees ~L346-350): single pass — explode each
        edge into (src),(dst) and hash-aggregate, instead of the
        reference's union-of-two-aggregations (one shuffle, not three).
        """
        endpoints = self._edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("id")
        )
        counts = endpoints.groupBy("id").agg(F.count("*").alias("__d"))
        return (
            self._vertices.select("id")
            .join(counts, "id", "left")
            .select("id", F.coalesce("__d", F.lit(0)).cast("long").alias("degree"))
        )

    def _edges_keyed(self, direction: EdgeDirection) -> DataFrame:
        """Incident edges keyed by owning vertex id.

        Returns columns: id (owner), src, dst, + edge values.
        ALL = one explode, not a self-union (single scan of edges).
        """
        e = self._edges
        if direction == EdgeDirection.OUT:
            return e.select(F.col("src").alias("id"), "*")
        if direction == EdgeDirection.IN:
            return e.select(F.col("dst").alias("id"), "*")
        return e.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("id"), "*"
        )

    def reduce_on_edges(
        self, aggs: Sequence[Column], direction: EdgeDirection = EdgeDirection.OUT
    ) -> DataFrame:
        """Group incident edges per vertex and aggregate
        (reduceOnEdges, Graph.java ~L560-600).

        ``aggs`` are native aggregate Columns over the edge row
        (``src``, ``dst``, edge value cols) — JVM-side hash aggregate.
        Vertices with no incident edges are absent (reference emits
        nothing for empty groups in groupReduce).
        """
        return self._edges_keyed(direction).groupBy("id").agg(*aggs)

    def _neighbor_pairs(self, direction: EdgeDirection) -> DataFrame:
        """(id, __nid, edge values, nbr_<vertex value>) — one row per
        (owner, edge, neighbor). OUT: owner=src, neighbor=dst; IN:
        owner=dst, neighbor=src; ALL: both (single explode pass)."""
        nbr = self._vertices.select(
            F.col("id").alias("__nid"),
            *[F.col(c).alias(f"nbr_{c}") for c in self._schema.vertex_value_cols],
        )
        e = self._edges
        evals = self._schema.edge_value_cols
        if direction == EdgeDirection.OUT:
            pairs = e.select(F.col("src").alias("id"), F.col("dst").alias("__nid"), *evals)
        elif direction == EdgeDirection.IN:
            pairs = e.select(F.col("dst").alias("id"), F.col("src").alias("__nid"), *evals)
        else:
            pairs = e.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src").alias("id"), F.col("dst").alias("__nid")),
                        F.struct(F.col("dst").alias("id"), F.col("src").alias("__nid")),
                    )
                ).alias("__p"),
                *evals,
            ).select("__p.id", "__p.__nid", *evals)
        return pairs.join(nbr, "__nid")

    def reduce_on_neighbors(
        self, aggs: Sequence[Column], direction: EdgeDirection = EdgeDirection.OUT
    ) -> DataFrame:
        """Group (edge, neighbor-vertex) pairs per vertex and aggregate
        (reduceOnNeighbors ~L560-640) — edges ⋈ vertices then hash agg.

        Neighbor vertex value columns are exposed as ``nbr_<col>`` to the
        agg expressions (see :meth:`_neighbor_pairs` for the directions).
        """
        return self._neighbor_pairs(direction).groupBy("id").agg(*aggs)

    def reduce_on_neighbors_udf(
        self, func, schema: str, direction: EdgeDirection = EdgeDirection.OUT
    ) -> DataFrame:
        """Arbitrary-Python neighborhood reduce — the escape hatch for
        logic Column expressions can't say (reference UDF surface:
        NeighborsFunction with arbitrary Java code; SURVEY §2.10).

        ``func(pdf) -> pdf`` runs per vertex group via Arrow-batched
        ``applyInPandas`` over the (owner id, edge values, nbr_* values)
        frame. Use native aggs (``reduce_on_neighbors``) whenever
        possible — this path ships the group through Python.
        """
        return (
            self._neighbor_pairs(direction)
            .drop("__nid")
            .groupBy("id")
            .applyInPandas(func, schema)
        )

    def reduce_on_edges_with_vertex_value(
        self, aggs: Sequence[Column], direction: EdgeDirection = EdgeDirection.OUT
    ) -> DataFrame:
        """reduceOnEdges with the owning vertex's value available
        (EdgesFunctionWithVertexValue, Graph.java ~L600-640): grouped
        edge agg LEFT-joined back to vertices, so every vertex appears —
        with NULL aggregates when it has no incident edges (the
        reference's coGroup gives the UDF an empty edge iterator there).
        """
        grouped = self._edges_keyed(direction).groupBy("id").agg(*aggs)
        return self._vertices.join(grouped, "id", "left")

    def reduce_on_neighbors_with_vertex_value(
        self, aggs: Sequence[Column], direction: EdgeDirection = EdgeDirection.OUT
    ) -> DataFrame:
        """reduceOnNeighbors with the owning vertex's value
        (NeighborsFunctionWithVertexValue): neighbor-side join + agg,
        then LEFT join back to the owner's row.
        """
        grouped = self.reduce_on_neighbors(aggs, direction)
        return self._vertices.join(grouped, "id", "left")

    def aggregate_messages(
        self,
        agg: Sequence[Column] | None,
        msg_to_dst: Column | None = None,
        msg_to_src: Column | None = None,
        vertices: DataFrame | None = None,
        active: DataFrame | None = None,
        msg_to_dst_reads: Sequence[str] | None = None,
        msg_to_src_reads: Sequence[str] | None = None,
    ) -> DataFrame:
        """The engine's core primitive (GraphX/GraphFrames
        ``aggregateMessages``; the reference builds every neighborhood op
        and the Spargel loop from this same join+agg shape).

        Message expressions see the triplet columns: ``src``, ``dst``,
        edge value cols, ``src_<c>`` / ``dst_<c>`` for vertex value cols.
        Result: one row per vertex id that received ≥1 message, with
        ``agg`` applied over its inbox.

        ``vertices`` overrides the vertex frame joined in (used by the
        Pregel loop to pass the current state without rebuilding a Graph).
        ``agg=None`` returns the raw message rows ``(id, __msg)``
        ungrouped, one per sent message: the Pregel loop aggregates them
        itself.

        ``msg_to_dst_reads`` / ``msg_to_src_reads`` declare which
        endpoint states (``"src"``/``"dst"``) the message expression
        references — each declared side costs one vertex join per
        superstep, so declaring only the side actually read halves the
        join work of single-sided kernels (SSSP, PageRank). When omitted
        the sides are inferred from the Column repr, and the resulting
        frame is ANALYZED before use: if the guess under-joined (the
        repr elided a referenced name — possible for opaque ``F.expr``
        strings), analysis fails and both sides are joined instead, so
        under-joining is impossible, never silent.

        Endpoint joins are INNER: on an INVALID graph (edge endpoints
        missing from the vertex frame — see ``validate``) an edge
        contributes a message iff every side it joins exists, i.e. every
        declared/inferred read side plus, in delta mode, the originating
        side. Validate first (``InvalidVertexIdsValidator``) if that
        distinction matters.
        """
        if msg_to_dst is None and msg_to_src is None:
            raise ValueError("need msg_to_dst and/or msg_to_src")
        v = vertices if vertices is not None else self._vertices
        vcols = [c for c in v.columns if c != "id"]

        def side_frame(side: str, source: DataFrame) -> DataFrame:
            key = "__sid" if side == "src" else "__did"
            return source.select(
                F.col("id").alias(key),
                *[F.col(c).alias(f"{side}_{c}") for c in vcols],
            )

        def inbox_side(
            msg_expr: Column, owner: str, reads: Sequence[str] | None
        ) -> DataFrame:
            # When `active` is set (delta/workset mode), the side the
            # message ORIGINATES from joins against the active frontier
            # instead of the full state — an inner join, so edges whose
            # originator didn't change send nothing, exactly Spargel's
            # workset semantics.
            origin = "src" if owner == "dst" else "dst"

            def build(sides: Sequence[str]) -> DataFrame:
                trip = self._edges
                for side in ("src", "dst"):
                    gate = active is not None and side == origin
                    if not (side in sides or gate):
                        continue
                    source = active if gate else v
                    sf = side_frame(side, source)
                    key = "__sid" if side == "src" else "__did"
                    trip = trip.join(sf, trip[side] == sf[key])
                return trip.select(
                    F.col(owner).alias("id"), msg_expr.alias("__msg")
                )

            if reads is not None:
                bad = set(reads) - {"src", "dst"}
                if bad:
                    raise ValueError(f"reads must be 'src'/'dst', got {bad}")
                return build(tuple(reads))
            # Heuristic: repr substring match (false positive → harmless
            # over-join). A false NEGATIVE would silently drop the join,
            # so verify by analyzing the guessed frame: an unresolvable
            # column reference means the repr hid a read — join both.
            s = str(msg_expr)
            guess = tuple(
                side
                for side in ("src", "dst")
                if any(f"{side}_{c}" in s for c in vcols)
            )
            try:
                candidate = build(guess)
                candidate.schema  # force driver-side analysis only
                return candidate
            except Exception:
                # unresolved column → the guess under-joined; a genuinely
                # bad expression re-raises from the both-sides build
                return build(("src", "dst"))

        msgs = []
        if msg_to_dst is not None:
            msgs.append(inbox_side(msg_to_dst, "dst", msg_to_dst_reads))
        if msg_to_src is not None:
            msgs.append(inbox_side(msg_to_src, "src", msg_to_src_reads))
        inbox = msgs[0] if len(msgs) == 1 else msgs[0].unionByName(msgs[1])
        return inbox if agg is None else inbox.groupBy("id").agg(*agg)

    def triplets(self) -> DataFrame:
        """edge ⋈ both endpoint values (the workhorse two-hash-join
        pattern, Graph.java ~L560-640; first-class getTriplets() landed
        only in later Gelly — exposed here anyway per SURVEY §2.4).

        Columns: src, dst, <edge values>, src_<c>, dst_<c>.

        Both endpoint sides read one vertex leaf (``plans.reuse``), so the
        vertex frame is broadcast or shuffled once, not once per side.
        """
        vcols = self._schema.vertex_value_cols
        v = reuse_leaf(self._vertices)
        sv = v.select(
            F.col("id").alias("__sid"), *[F.col(c).alias(f"src_{c}") for c in vcols]
        )
        dv = v.select(
            F.col("id").alias("__did"), *[F.col(c).alias(f"dst_{c}") for c in vcols]
        )
        e = self._edges
        return (
            e.join(sv, e["src"] == sv["__sid"])
            .join(dv, F.col("dst") == dv["__did"])
            .drop("__sid", "__did")
        )

    # ------------------------------------------------------------------
    # §2.6 mutations / set ops
    # ------------------------------------------------------------------

    def union(self, other: "Graph") -> "Graph":
        """Vertices: union then distinct on FULL rows — exactly the
        reference (union, Graph.java ~L545-560: DataSet.union().distinct()
        over (id, value) tuples), and deterministic: if the two graphs
        carry the same id with different values, BOTH rows survive, the
        same as the reference, rather than an arbitrary
        partitioning-dependent winner. Edges: union-all.
        """
        v = self._vertices.unionByName(other._vertices).distinct()
        e = self._edges.unionByName(other._edges)
        return Graph(v, e)

    def add_vertex(self, vertex_row: tuple, edges_rows: Sequence[tuple] = ()) -> "Graph":
        """Append a vertex (+ its edges); duplicate ids deduped
        (addVertex ~L740-790).
        """
        spark = self._vertices.sparkSession
        v_new = spark.createDataFrame([vertex_row], schema=self._vertices.schema)
        v = self._vertices.unionByName(v_new).dropDuplicates(["id"])
        e = self._edges
        if edges_rows:
            e = e.unionByName(
                spark.createDataFrame(list(edges_rows), schema=self._edges.schema)
            )
        return Graph(v, e)

    def add_edge(self, src_vertex: tuple, dst_vertex: tuple, edge_row: tuple) -> "Graph":
        """Append one edge and its endpoints (addEdge ~L795-820)."""
        spark = self._edges.sparkSession
        v_new = spark.createDataFrame(
            [src_vertex, dst_vertex], schema=self._vertices.schema
        )
        v = self._vertices.unionByName(v_new).dropDuplicates(["id"])
        e = self._edges.unionByName(
            spark.createDataFrame([edge_row], schema=self._edges.schema)
        )
        return Graph(v, e)

    def remove_vertex(self, vertex_id) -> "Graph":
        """Drop a vertex and all incident edges (removeVertex ~L825-860)."""
        return Graph(
            self._vertices.filter(F.col("id") != F.lit(vertex_id)),
            self._edges.filter(
                (F.col("src") != F.lit(vertex_id)) & (F.col("dst") != F.lit(vertex_id))
            ),
        )

    def remove_vertices(self, ids: DataFrame) -> "Graph":
        """Set-removal via ANTI joins (scale path for bulk deletes). Both
        edge joins read one id leaf (``plans.reuse``)."""
        ids = reuse_leaf(ids.select("id"))
        v = self._vertices.join(ids, "id", "left_anti")
        e = (
            self._edges.join(ids, self._edges["src"] == ids["id"], "left_anti")
            .join(ids, F.col("dst") == ids["id"], "left_anti")
        )
        return Graph(v, e)

    def remove_edge(self, src, dst, value=None) -> "Graph":
        """Drop matching (src,dst[,value]) edges (removeEdge ~L865-890)."""
        cond = (F.col("src") == F.lit(src)) & (F.col("dst") == F.lit(dst))
        if value is not None:
            cond = cond & (F.col("value") == F.lit(value))
        return self._count_preserved(
            Graph(self._vertices, self._edges.filter(~cond))
        )

    def intersect(self, other: "Graph") -> "Graph":
        """Edges present in BOTH graphs (matched on src, dst and every
        edge value column); vertices = ids present in both, keeping this
        graph's values.

        Extension — NOT in the reference prototype (Gelly grew
        Graph.intersect later; SURVEY.md §2.6 notes the absence). Shape:
        LEFT SEMI joins on composite keys — at scale both inputs shuffle
        once on the same key, no row widening.
        """
        e = self._edges.join(
            other._edges, on=list(self._edges.columns), how="left_semi"
        ).dropDuplicates()
        v = self._vertices.join(other._vertices.select("id"), "id", "left_semi")
        return Graph(v, e)

    def difference(self, other: "Graph") -> "Graph":
        """Remove ``other``'s vertices (by id) and all their incident
        edges from this graph — bulk removeVertex (ANTI-join scale path).

        Extension — NOT in the reference prototype (Gelly grew
        Graph.difference later; SURVEY.md §2.6 notes the absence).
        """
        return self.remove_vertices(other._vertices.select("id"))

    # ------------------------------------------------------------------
    # §2.8 validation + algorithm packaging
    # ------------------------------------------------------------------

    def invalid_edge_endpoints(self) -> DataFrame:
        """Edge endpoint ids missing from the vertex set — ANTI join
        (InvalidVertexIdsValidator ~L1-60).
        """
        ids = self._vertices.select("id")
        endpoints = (
            self._edges.select(F.col("src").alias("id"))
            .unionByName(self._edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return endpoints.join(ids, "id", "left_anti")

    def validate(self, validator: "GraphValidator | None" = None) -> bool:
        """Pluggable structural check (Graph.validate(GraphValidator),
        Graph.java ~L1005-1015); defaults to InvalidVertexIdsValidator
        semantics: every edge endpoint exists in the vertex set.
        """
        if validator is not None:
            return validator.validate(self)
        return self.invalid_edge_endpoints().isEmpty()

    def run(self, algorithm: "GraphAlgorithm") -> "Graph":
        """Graph.run(GraphAlgorithm), Graph.java ~L935-940."""
        return algorithm.run(self)

    def pregel(self, **kwargs):
        """Vertex-centric iteration on this graph — the engine surface for
        Graph.runVertexCentricIteration (Graph.java ~L895-930); see
        operators.pregel.pregel for the full contract.
        """
        from .operators.pregel import pregel as _pregel

        return _pregel(self, **kwargs)


class GraphAlgorithm:
    """Packaging interface for library algorithms
    (flink.graphs.GraphAlgorithm, ~10 LoC).
    """

    def run(self, graph: Graph) -> Graph:  # pragma: no cover - interface
        raise NotImplementedError


class GraphValidator:
    """Pluggable structural validator
    (flink.graphs.validation.GraphValidator, ~15 LoC).
    """

    def validate(self, graph: Graph) -> bool:  # pragma: no cover - interface
        raise NotImplementedError


class InvalidVertexIdsValidator(GraphValidator):
    """True iff every edge endpoint id exists in the vertex set — ANTI
    join (validation/InvalidVertexIdsValidator.java ~L1-60).
    """

    def validate(self, graph: Graph) -> bool:
        return graph.invalid_edge_endpoints().isEmpty()
