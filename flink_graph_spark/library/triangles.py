"""Triangle counting over a canonically-oriented undirected graph
(src < dst on every edge).

Not in the reference prototype (Gelly grew TriangleEnumerator later);
included for graph-metric coverage. Plan: degree-oriented adjacency
INTERSECTION — every edge is re-oriented so its lower-(degree, id)
endpoint comes first (an acyclic tournament; per-vertex out-fan then
bounded by O(sqrt m) even on hub-skewed graphs), out-neighbor arrays
are collected per vertex, and for each oriented edge (a, b) the
triangles through it are exactly N⁺(a) ∩ N⁺(b) — one
``array_intersect`` evaluated inside the join's own codegen stage.

Why arrays and not the classic wedge join (enumerate paths a→b→c on
the middle vertex, close with a semi-join on (a, c))? Both do the same
O(m^1.5) element-compares, but the wedge plan MATERIALIZES AND
SHUFFLES the Σ in(b)·out(b) path table for the closing semi-join —
measured fatal at the 100x sweep point (>45 GB of shuffle scratch on
one box before "No space left on device"; SWEEP_r06 error rows, and
the uncommitted round-7 sweep data reproduced them). With the r8
disk-bounded waves the committed record is SWEEP_r08: p100 492.5s
in-sweep / 200.4s solo, zero error rows (SCALING.md §26).
The array plan's big payload is the out-arrays riding the second join
(Σ out(a)² elements, ≤ Σ deg² — strictly below the full-adjacency
jaccard plan that survives the same point — and 8 B/element packed vs
~24 B+overhead per wedge row); the intersection then collapses it to
#triangle rows before anything else moves. Out-fan ≤ O(sqrt m) bounds
any single array at ~25 KB per million edges, so hub vertices never
threaten executor memory the way full-neighborhood arrays can.

The triangle count is orientation-invariant, so the DuckDB oracle
keeps the simple src<dst wedge form. All equi-joins on stable longs →
AQE handles skew.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.iterate import iterate, waves
from ..plans.checkpoints import release_local_checkpoint, scratch_scope
from ..rounding import ROUND_TO

#: Disk-bounded wave sizing for the enumeration's one big shuffle (the
#: by-b redistribution of the na-carrying stream, 8 B x sum(out^2)
#: payload). Measured at the 10x sweep point: sum(out^2) = 834M
#: elements (6.7 GB) on the 12M-edge co-purchase graph; under disjoint
#: replication that is ~67 GB at 100x — more than a single box's free
#: scratch once sort spill doubles it, and exactly the "No space left
#: on device" every r7 p100 adamic-adar attempt recorded. Slicing the
#: oriented edges by hash(a, b) % K caps each wave's stream at
#: ~WAVE_TARGET_BYTES and the drain between waves returns the scratch;
#: total work is unchanged (each edge is enumerated exactly once — the
#: slice predicate pushes below the array attach). On a cluster the
#: same K bounds PER-EXECUTOR scratch, so this is the 100 TB posture,
#: not a single-box hack. Below WAVE_EDGE_THRESHOLD edges the sizing
#: job is skipped entirely and the plan is the unchanged single-stage
#: pipeline (the 10x point runs one wave, matching its r7 timings).
WAVE_EDGE_THRESHOLD = 16_000_000
WAVE_TARGET_BYTES = 8 << 30


def _wave_count(oe: DataFrame, n_edges_hint: int | None = None) -> int:
    """K such that each wave's array-carrying shuffle stays near
    WAVE_TARGET_BYTES. Sized in AT MOST one action: when the caller
    supplies ``n_edges_hint`` (an upper bound on the oriented edge
    count — e.g. the graph's memoized raw-edge count) at or below
    WAVE_EDGE_THRESHOLD, no job runs at all; otherwise ONE two-level
    agg over the (checkpointed) oriented edge list returns the edge
    count and Σ out² together (the r8 design paid a count action AND a
    sizing action above the threshold, and a count action even far
    below it — one driver round-trip per triangle/AA query for
    nothing)."""
    if n_edges_hint is not None and n_edges_hint <= WAVE_EDGE_THRESHOLD:
        return 1
    row = (
        oe.groupBy("a")
        .agg(F.count("*").alias("o"))
        .agg(
            F.sum("o").alias("m"),
            F.sum(F.col("o") * F.col("o")).alias("s"),
        )
        .collect()[0]
    )
    if int(row["m"] or 0) <= WAVE_EDGE_THRESHOLD:
        return 1
    return max(1, math.ceil(int(row["s"]) * 8 / WAVE_TARGET_BYTES))


def _oriented_edges(e: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Re-orient canonical (src<dst) edges by (degree, id): returns
    (a, b, bkey) with a the lower-(degree,id) endpoint and bkey = b's
    (degree, id) sort key for once-per-wedge pairing.

    ``e`` MUST be duplicate-free (see ``_distinct_edges``): a duplicated
    canonical edge row would re-drive every wedge it participates in AND
    skew the orientation degrees, multiplying triangle counts.

    ``deg`` (r10): optional precomputed degree frame (id, d) over
    EXACTLY ``e``'s undirected view — callers that already need the
    degrees (Adamic–Adar's 1/ln(deg) weights) pass a checkpointed
    frame so the union+agg is computed once per query instead of once
    per plan leg (the orientation runs in its own checkpoint job, so
    exchange reuse cannot deduplicate it across jobs).
    """
    if deg is None:
        deg = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("d"))
        )
    with_deg = (
        e.join(deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
    )
    skey = F.struct(F.col("ds").alias("d"), F.col("src").alias("id"))
    dkey = F.struct(F.col("dd").alias("d"), F.col("dst").alias("id"))
    return with_deg.select(
        F.when(skey < dkey, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(skey < dkey, F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(skey < dkey, dkey).otherwise(skey).alias("bkey"),
    )


def _distinct_edges(e: DataFrame, assume_distinct: bool) -> DataFrame:
    """Multigraph guard for the wedge machinery: a duplicated edge row
    would re-drive every wedge through it and multiply the triangle and
    common-neighbor counts (SCALING.md §15). When the Graph carries the
    builder's
    ``distinct_edges`` guarantee this is FREE — the defensive distinct
    is one full edge-table shuffle, and every plan leg that re-reads it
    (degree union, degree joins) recomputes it, so skipping it on
    groupBy-built graphs is the difference between the r3 plan and a
    3x-shuffled one. When dedup IS needed it's materialized once
    (localCheckpoint) so downstream legs share the deduped blocks
    instead of re-shuffling per leg.
    """
    if assume_distinct:
        return e
    return e.distinct().localCheckpoint(eager=True)


@scratch_scope
def _edge_commons(
    e: DataFrame,
    assume_distinct: bool = False,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """(a, b, cs) for every oriented edge: cs = N⁺(a) ∩ N⁺(b), the
    array of third corners of the triangles whose lowest-(degree, id)
    edge is (a, b). Each triangle x→y→z (tournament order) appears in
    exactly one row — the (x, y) edge with z in cs; the (x, z) and
    (y, z) edges cannot re-emit it (y ∉ N⁺(z), x ∉ N⁺(y)'s source).

    Shuffle budget (the reason this replaced the wedge join — see the
    module docstring): oe by a (m rows), out-adjacency by id (n compact
    array rows), then oe-with-na by b (Σ out(a)² array elements, the
    plan's one big payload, bounded by min(Σ deg², m·sqrt(2m))). The
    Σ in·out wedge table never exists; downstream consumers see only
    #triangle corner rows (or just array sizes).
    """
    return _commons(_oriented_checkpoint(e, assume_distinct), n_edges_hint)


@scratch_scope
def _oriented_checkpoint(e: DataFrame, assume_distinct: bool) -> DataFrame:
    """(a, b) — the deduped, oriented edges, checkpointed once: they feed
    the adjacency groupBy AND the probe side of :func:`_commons` (else
    the degree joins re-run per leg, 2x slower at sf0.1)."""
    de = _distinct_edges(e, assume_distinct)
    return _oriented_edges(de).select("a", "b").localCheckpoint(eager=True)


def _commons(oe: DataFrame, n_edges_hint: int | None) -> DataFrame:
    """:func:`_edge_commons` over the oriented-edge checkpoint ``oe``.
    The one-wave result reads ``oe``. The wave result reads neither
    ``oe`` nor the out-adjacency checkpoint, and the caller's scope,
    which made ``oe``, frees both."""
    outadj = oe.groupBy(F.col("a").alias("id")).agg(
        F.sort_array(F.collect_set("b")).alias("ns")
    )

    # inner joins are sound: every a has an out-edge by construction,
    # and an edge whose b is a DAG sink has empty N⁺(b) — no triangle
    def _attach(edges: DataFrame) -> DataFrame:
        return (
            edges.join(
                outadj.select(F.col("id").alias("a"), F.col("ns").alias("na")),
                "a",
            )
            .join(
                outadj.select(F.col("id").alias("b"), F.col("ns").alias("nb")),
                "b",
            )
            .select("a", "b", F.array_intersect("na", "nb").alias("cs"))
        )

    n_waves = _wave_count(oe, n_edges_hint)
    if n_waves == 1:
        return _attach(oe)
    # disk-bounded waves (see WAVE_TARGET_BYTES): each wave's narrow
    # (a, b, cs) output is #triangle elements, tiny next to the
    # sum(out^2) stream. The compact out-adjacency is checkpointed once
    # and reshuffled per wave (m packed longs, ~1 GB at 100x: noise).
    outadj = outadj.localCheckpoint(eager=True)
    return waves(oe, _attach, n_waves, ("a", "b"))


def _closed_wedges(
    e: DataFrame,
    assume_distinct: bool = False,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """(a, b, c) triangle corners, each triangle exactly once — the
    exploded view of :func:`_edge_commons` (same rows the old wedge
    enumeration produced: a the lowest-(degree, id) corner, b the
    middle, c the top)."""
    return _edge_commons(e, assume_distinct, n_edges_hint).select(
        "a", "b", F.explode("cs").alias("c")
    )


def triangle_count(graph: Graph) -> DataFrame:
    """1-row frame (n_triangles BIGINT). Edges must be canonical
    (src < dst); symmetrize + filter first if not.
    """
    commons = _edge_commons(
        graph.edges.select("src", "dst"),
        graph.distinct_edges,
        graph.edge_count_hint(),
    )
    # sum of intersection sizes — no explode, the per-edge count
    # aggregates partially inside the join stage
    return commons.agg(
        F.coalesce(F.sum(F.size("cs")), F.lit(0)).cast("long").alias("n_triangles")
    )


def triangles_per_vertex(graph: Graph) -> DataFrame:
    """(id, n_triangles) for every vertex participating in ≥1 triangle."""
    tri = _closed_wedges(
        graph.edges.select("src", "dst"),
        graph.distinct_edges,
        graph.edge_count_hint(),
    )
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("b").alias("id")))
        .unionByName(tri.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count("*").cast("long").alias("n_triangles"))


def clustering_coefficient(graph: Graph) -> DataFrame:
    """Local clustering coefficient: (id, degree, coeff) for every
    vertex, coeff = 2·tri(v) / (deg(v)·(deg(v)−1)), 0.0 below degree 2.

    Composes the O(m^1.5) oriented triangle enumeration with the degree
    aggregate — the expensive leg is shared machinery, the coefficient
    itself is one left join and a column expression.
    """
    e = _distinct_edges(graph.edges.select("src", "dst"), graph.distinct_edges)
    deg = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    # reuse the (possibly checkpoint-materialized) deduped edge set for
    # the wedge leg too — the degree union above still reads it lazily,
    # so its checkpoint (if any) stays live with the returned plan
    tri_src = _closed_wedges(
        e, assume_distinct=True, n_edges_hint=graph.edge_count_hint()
    )
    corners = (
        tri_src.select(F.col("a").alias("id"))
        .unionByName(tri_src.select(F.col("b").alias("id")))
        .unionByName(tri_src.select(F.col("c").alias("id")))
    )
    tri = corners.groupBy("id").agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
    d = F.col("degree").cast("double")
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "degree",
            F.round(
                F.when(F.col("degree") >= 2, 2.0 * t / (d * (d - 1.0)))
                .otherwise(F.lit(0.0)),
                ROUND_TO,
            ).alias("coeff"),
        )
    )


def oracle_sql(edges_cte: str) -> str:
    # DISTINCT mirrors _oriented_edges' multigraph guard
    return f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT DISTINCT src, dst FROM {edges_cte}) ab
JOIN (SELECT DISTINCT src, dst FROM {edges_cte}) bc ON ab.dst = bc.src
JOIN (SELECT DISTINCT src, dst FROM {edges_cte}) ac
  ON ac.src = ab.src AND ac.dst = bc.dst"""


def clustering_sql(edges_cte: str) -> tuple[str, str]:
    """(CTE text, final SELECT) DuckDB twin of clustering_coefficient
    over a canonical (src<dst) edges CTE; the DISTINCT CTE mirrors the
    Spark side's multigraph guard."""
    cte = f"cl_de AS MATERIALIZED (SELECT DISTINCT src, dst FROM {edges_cte})"
    final = f"""SELECT d.id, d.degree,
       ROUND(CASE WHEN d.degree >= 2
             THEN 2.0 * COALESCE(t.n_triangles, 0)
                  / (d.degree * (d.degree - 1.0))
             ELSE 0.0 END, {ROUND_TO}) AS coeff
FROM (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT src AS id FROM cl_de
    UNION ALL SELECT dst FROM cl_de
  ) GROUP BY 1
) d
LEFT JOIN (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT ab.src AS id FROM cl_de ab
    JOIN cl_de bc ON ab.dst = bc.src
    JOIN cl_de ac ON ac.src = ab.src AND ac.dst = bc.dst
    UNION ALL
    SELECT ab.dst FROM cl_de ab
    JOIN cl_de bc ON ab.dst = bc.src
    JOIN cl_de ac ON ac.src = ab.src AND ac.dst = bc.dst
    UNION ALL
    SELECT bc.dst FROM cl_de ab
    JOIN cl_de bc ON ab.dst = bc.src
    JOIN cl_de ac ON ac.src = ab.src AND ac.dst = bc.dst
  ) GROUP BY 1
) t USING (id)"""
    return cte, final


def edge_support(graph: Graph) -> DataFrame:
    """Per-edge triangle support (the k-truss building block):
    (src, dst, support) for every canonical (src<dst) edge, support =
    number of triangles containing it. Reuses the O(m^1.5) oriented
    wedge enumeration; each triangle contributes its three canonical
    edges via a 3-element map-side explode, then one hash agg + a left
    join back to the edge list (edges in no triangle report 0).
    """
    e = graph.edges.select("src", "dst")
    return _support(
        e, _edge_commons(e, graph.distinct_edges, graph.edge_count_hint())
    )


def _support(e: DataFrame, commons: DataFrame) -> DataFrame:
    """:func:`edge_support` of the edges ``e`` from their commons."""
    tri = commons.select("a", "b", F.explode("cs").alias("c"))
    mm = lambda x, y: F.struct(  # noqa: E731 — canonical (min,max) pair
        F.least(x, y).alias("src"), F.greatest(x, y).alias("dst")
    )
    tri_edges = tri.select(
        F.explode(
            F.array(
                mm(F.col("a"), F.col("b")),
                mm(F.col("a"), F.col("c")),
                mm(F.col("b"), F.col("c")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    sup = tri_edges.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("support")
    )
    return e.join(sup, ["src", "dst"], "left").select(
        "src",
        "dst",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )


def edge_support_sql(edges_cte: str) -> tuple[str, str]:
    """(CTE text, final SELECT) DuckDB twin over a canonical (src<dst)
    edges CTE. Triangle enumeration runs over the DISTINCT edge set
    (mirroring _oriented_edges' multigraph guard); the outer join back
    re-emits one row per ORIGINAL edge row, like the Spark side."""
    cte = f"es_de AS MATERIALIZED (SELECT DISTINCT src, dst FROM {edges_cte})"
    final = f"""SELECT e.src, e.dst,
       CAST(COALESCE(s.support, 0) AS BIGINT) AS support
FROM {edges_cte} e
LEFT JOIN (
    SELECT src, dst, COUNT(*) AS support FROM (
        SELECT ab.src AS src, ab.dst AS dst FROM es_de ab
        JOIN es_de bc ON ab.dst = bc.src
        JOIN es_de ac ON ac.src = ab.src AND ac.dst = bc.dst
        UNION ALL
        SELECT ab.src, bc.dst FROM es_de ab
        JOIN es_de bc ON ab.dst = bc.src
        JOIN es_de ac ON ac.src = ab.src AND ac.dst = bc.dst
        UNION ALL
        SELECT ab.dst, bc.dst FROM es_de ab
        JOIN es_de bc ON ab.dst = bc.src
        JOIN es_de ac ON ac.src = ab.src AND ac.dst = bc.dst
    ) GROUP BY 1, 2
) s ON e.src = s.src AND e.dst = s.dst"""
    return cte, final


@scratch_scope
def k_truss(graph: Graph, k: int = 3, max_rounds: int = 3) -> DataFrame:
    """k-truss edge set: iteratively peel edges whose triangle support
    is < k-2 until stable (bounded by ``max_rounds`` so the unrolled
    oracle matches round-for-round). Returns (src, dst, support) of
    surviving edges with their support in the FINAL surviving subgraph.
    On ``operators.iterate``: the state is the support table, each
    superstep one O(m^1.5) support pass over its rows with support >=
    k-2 (the seed gives every edge k-2), and the count of rows below
    k-2 stops the loop at the fixed point, where extra oracle rounds
    are no-ops.
    """
    thresh = k - 2
    oe: list[DataFrame] = []

    @scratch_scope
    def peel(state: DataFrame, _it: int) -> DataFrame:
        # the previous superstep's oriented edges fed only its support
        # table, which the kernel has checkpointed by now (after waves,
        # which do not read them, the scope freed them at return)
        for prev in oe:
            release_local_checkpoint(prev)
        e = state.where(F.col("support") >= thresh).select("src", "dst")
        oe[:] = [_oriented_checkpoint(e, graph.distinct_edges)]
        return _support(e, _commons(oe[0], graph.edge_count_hint()))

    seed = graph.edges.select(
        "src", "dst", F.lit(thresh).cast("long").alias("support")
    )
    state, _, _ = iterate(
        seed, peel, max_rounds + 1, changed=F.col("support") < thresh
    )
    return state.where(F.col("support") >= thresh)


def k_truss_ctes(
    edges_cte: str, k: int = 3, max_rounds: int = 3
) -> tuple[str, str]:
    """(CTE text, final SELECT) — unrolled peel rounds. Each round
    recomputes per-edge support over the surviving edge set; the
    triangle legs read the round's DISTINCT edges (multigraph guard,
    as on the Spark side) while the outer support join re-emits one
    row per surviving original edge row."""
    thresh = k - 2

    def support_sql(outer: str, inner: str) -> str:
        return f"""SELECT e.src, e.dst,
       CAST(COALESCE(s.support, 0) AS BIGINT) AS support
FROM {outer} e
LEFT JOIN (
    SELECT src, dst, COUNT(*) AS support FROM (
        SELECT ab.src AS src, ab.dst AS dst FROM {inner} ab
        JOIN {inner} bc ON ab.dst = bc.src
        JOIN {inner} ac ON ac.src = ab.src AND ac.dst = bc.dst
        UNION ALL
        SELECT ab.src, bc.dst FROM {inner} ab
        JOIN {inner} bc ON ab.dst = bc.src
        JOIN {inner} ac ON ac.src = ab.src AND ac.dst = bc.dst
        UNION ALL
        SELECT ab.dst, bc.dst FROM {inner} ab
        JOIN {inner} bc ON ab.dst = bc.src
        JOIN {inner} ac ON ac.src = ab.src AND ac.dst = bc.dst
    ) GROUP BY 1, 2
) s ON e.src = s.src AND e.dst = s.dst"""

    ctes = [f"kt_e0 AS MATERIALIZED (SELECT src, dst FROM {edges_cte})"]
    for i in range(1, max_rounds + 1):
        ctes.append(
            f"kt_d{i - 1} AS MATERIALIZED"
            f" (SELECT DISTINCT src, dst FROM kt_e{i - 1})"
        )
        ctes.append(
            f"""kt_e{i} AS MATERIALIZED (
  SELECT src, dst FROM ({support_sql(f'kt_e{i - 1}', f'kt_d{i - 1}')})
  WHERE support >= {thresh}
)"""
        )
    ctes.append(
        f"kt_d{max_rounds} AS MATERIALIZED"
        f" (SELECT DISTINCT src, dst FROM kt_e{max_rounds})"
    )
    final = (
        f"SELECT * FROM"
        f" ({support_sql(f'kt_e{max_rounds}', f'kt_d{max_rounds}')})"
        f" WHERE support >= {thresh}"
    )
    return ",\n".join(ctes), final
