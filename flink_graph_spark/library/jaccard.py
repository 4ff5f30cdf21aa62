"""Per-edge Jaccard similarity — reference:
example/JaccardSimilarityMeasure.java [unverified, SURVEY §2.9]:
|N(u) ∩ N(v)| / |N(u) ∪ N(v)| over undirected neighbor sets.

Implemented as a count-based inverted-index plan (edges ⋈ adjacency ⋈
adjacency + hash aggs) instead of the reference's collect-the-
neighborhood-into-a-set approach: no per-vertex set materialization, so
hub vertices don't blow memory at scale; everything is joins + aggs
Catalyst can reorder and AQE can skew-split. Integer counts → division
of identical ints is bit-identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph

#: Sizing itself must not add driver actions to small queries: the
#: payload agg only runs when the edge count is known (the graph's
#: memoized count, a caller hint, or a persisted edge frame whose
#: count just pre-fills the cache the plan reads anyway) AND above
#: this floor. Reuses the triangle family's empirical threshold.
from .triangles import WAVE_EDGE_THRESHOLD as _WAVE_EDGE_THRESHOLD

#: Disk-bounded waves for the full-adjacency attach (r9 — same
#: mechanism as ``triangles.WAVE_TARGET_BYTES``, sized for THIS plan's
#: payload). The attach carries both endpoints' neighbor arrays on
#: every edge row — Σ deg² elements ≈ 8 B × Σ deg² of shuffle payload,
#: measured 238 GB at the 100x sweep point (SWEEP_r08: 405.7s, the
#: time being spill throughput, and a ~42 GB concurrent on-disk
#: footprint that is a single-box capacity cliff at the next decade).
#: Above MIN_PAYLOAD the edges are sliced by hash(src, dst) % K into
#: waves of ~TARGET bytes each; every wave's narrow (src, dst,
#: jaccard) output is checkpointed and the wave's scratch drained
#: before the next begins — fixed scratch budget at any corpus size,
#: the same 100 TB posture as the triangle family (on a cluster K
#: bounds PER-EXECUTOR scratch). Below MIN_PAYLOAD the plan is the
#: unchanged single-stage attach: the 10x point (23 GB payload,
#: 13.1s in SWEEP_r08) measured fine without waves, so the floor sits
#: above it. The compact adjacency reshuffles per wave (Σ deg packed
#: longs — 1.9 GB at 100x, ~2 GB × 2 sides × K ≈ 60 GB of extra
#: sequential shuffle at K=15, cheap next to the 238 GB spill-through
#: it replaces).
JACCARD_WAVE_MIN_PAYLOAD_BYTES = 32 << 30
JACCARD_WAVE_TARGET_BYTES = 16 << 30


def _adjacency_payload_bytes(adj: DataFrame) -> int:
    """8 B × Σ deg² — the attach's array payload, in ONE action over
    the (checkpointed) adjacency."""
    row = (
        adj.select(F.size("ns").cast("long").alias("d"))
        .agg(F.sum(F.col("d") * F.col("d")).alias("s"))
        .collect()[0]
    )
    return int(row["s"] or 0) * 8


def jaccard_similarity(
    graph: Graph,
    round_to: int = 6,
    salt_buckets: int | None = None,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Returns (src, dst, jaccard) for every edge. Neighborhoods are over
    the undirected view, neighbor sets are distinct ids.

    Plan: adjacency arrays (sorted collect_set per vertex) joined to each
    edge's two endpoints, intersection via ``array_intersect`` — two
    hash joins of |E| rows against |V| compact rows, NO |E|·avg-degree
    wedge blowup. At sf0.1 (1.2M edges, avg deg 120) this is ~6x faster
    than the count-based wedge join because the ~140M-row intermediate
    never exists.

    Scale path: above JACCARD_WAVE_MIN_PAYLOAD_BYTES of array payload
    the attach runs in disk-bounded hash(src, dst) waves (constants
    above) — results identical (pytest-forced multi-wave equality),
    scratch bounded at any corpus size. Sizing is action-free for
    small graphs: it engages only when the edge count is already known
    (memo/hint) or free to learn (persisted edges), and that count
    exceeds the triangle family's wave threshold.

    DELIBERATE CONTRACT (r10, pinned by
    tests/test_triangles_profiles.py::test_jaccard_waved_attach_matches_single_wave):
    a COLD caller — no ``n_edges_hint``, no memoized count, edges not
    persisted — always takes the single-stage attach, at ANY size. The
    alternative (a defensive sizing action on every unknown-size call)
    would tax every small ad-hoc graph with a driver round-trip to
    protect a path no registry query takes: every big derived graph is
    built persisted with its count memoized, which is what fills the
    hint. Callers wiring this into a new large non-persisted pipeline
    must pass ``n_edges_hint`` (any upper bound works — it only gates
    whether the one-action payload measurement runs).

    Hub handling: ``collect_set`` is a holistic agg — one reduce task
    owns a hub's entire raw inbox. ``salt_buckets`` builds the arrays
    via the two-phase salted agg (``functions.skew.salted_adjacency``)
    so hub inboxes spread over N reducers; the final per-vertex array
    still materializes (fine to ~1e6 degree). Beyond that, use
    ``jaccard_similarity_counts`` — no arrays at all.
    """
    from ..plans.checkpoints import (
        drain_shuffle_scratch,
        release_local_checkpoint,
    )
    from ..plans.reuse import reuse_leaf

    e = graph.edges.select("src", "dst")
    if salt_buckets:
        from ..functions.skew import salted_adjacency

        adj = salted_adjacency(e, buckets=salt_buckets)
    else:
        adj = (
            e.select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
            .unionByName(
                e.select(F.col("dst").alias("id"), F.col("src").alias("nbr"))
            )
            .groupBy("id")
            .agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
        )

    def _attach(edges: DataFrame, adj_df: DataFrame) -> DataFrame:
        a = adj_df.select(F.col("id").alias("src"), F.col("ns").alias("na"))
        b = adj_df.select(F.col("id").alias("dst"), F.col("ns").alias("nb"))
        return (
            edges.join(a, "src")
            .join(b, "dst")
            .withColumn(
                "common", F.size(F.array_intersect("na", "nb")).cast("double")
            )
            .select(
                "src",
                "dst",
                F.round(
                    F.col("common")
                    / (F.size("na") + F.size("nb") - F.col("common")),
                    round_to,
                ).alias("jaccard"),
            )
        )

    hint = n_edges_hint
    if hint is None:
        hint = graph.edge_count_hint()
    if hint is None:
        lvl = graph.edges.storageLevel
        if lvl.useMemory or lvl.useDisk:
            # persisted edges (the builder posture for every big
            # derived graph): counting just materializes the cache the
            # plan reads anyway — no extra derivation pass
            hint = graph.edge_count()
    if hint is None or hint <= _WAVE_EDGE_THRESHOLD:
        # both endpoint sides read one adjacency leaf: its collect_set
        # shuffle runs once instead of once per side
        return _attach(e, reuse_leaf(adj))

    # big graph: pay one sizing action over the materialized adjacency
    # (the plan reuses the checkpoint, so the groupBy is not recomputed)
    adj = adj.localCheckpoint(eager=True)
    payload = _adjacency_payload_bytes(adj)
    if payload <= JACCARD_WAVE_MIN_PAYLOAD_BYTES:
        return _attach(e, adj)
    n_waves = max(2, -(-payload // JACCARD_WAVE_TARGET_BYTES))
    spark = e.sparkSession
    lvl = graph.edges.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        # each wave re-reads the edge frame — materialize once so a
        # derived (non-persisted) edge pipeline is not recomputed K×
        e = e.localCheckpoint(eager=True)
    parts = []
    for k in range(n_waves):
        wave_edges = e.filter(
            F.pmod(F.xxhash64("src", "dst"), F.lit(n_waves)) == F.lit(k)
        )
        w = _attach(wave_edges, adj).localCheckpoint(eager=True)
        drain_shuffle_scratch(spark)
        parts.append(w)
    release_local_checkpoint(adj)
    release_local_checkpoint(e)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def jaccard_similarity_counts(graph: Graph, round_to: int = 6) -> DataFrame:
    """Count-based wedge-join variant: no per-vertex neighbor array, so
    hub degree never hits executor memory — the skew-safe path for
    power-law graphs (AQE splits the skewed wedge join). Costs an
    |E|·avg-degree intermediate; prefer ``jaccard_similarity`` when
    max degree is bounded.
    """
    e = graph.edges.select("src", "dst")
    # the wedge join must run over DISTINCT edges: a duplicated edge
    # row would double `common` past the inclusion-exclusion bound and
    # the denominator ds+dd-common can reach 0 (divide-by-zero under
    # ANSI mode) — found by the skewed-RMat integration test, whose
    # generator emits multi-edges. Builders that guarantee distinctness
    # (Graph.distinct_edges) skip the extra edge-table shuffle.
    ed = e if graph.distinct_edges else e.distinct()
    adj = (
        e.select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
        .unionByName(e.select(F.col("dst").alias("id"), F.col("src").alias("nbr")))
        .distinct()
    )
    deg = adj.groupBy("id").agg(F.count("*").alias("deg"))

    a = adj.select(F.col("id").alias("src"), F.col("nbr").alias("na"))
    b = adj.select(F.col("id").alias("bid"), F.col("nbr").alias("nb"))
    common = (
        ed.join(a, "src")
        .join(b, (F.col("dst") == F.col("bid")) & (F.col("na") == F.col("nb")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("common"))
    )

    ds = deg.select(F.col("id").alias("src"), F.col("deg").alias("ds"))
    dd = deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd"))
    return (
        e.join(ds, "src")
        .join(dd, "dst")
        .join(common, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            F.round(
                F.coalesce(F.col("common"), F.lit(0)).cast("double")
                / (F.col("ds") + F.col("dd") - F.coalesce(F.col("common"), F.lit(0))),
                round_to,
            ).alias("jaccard"),
        )
    )


def oracle_ctes(edges_cte: str, round_to: int = 6) -> tuple[str, str]:
    ctes = [
        f"""jc_adj AS MATERIALIZED (
  SELECT src AS id, dst AS nbr FROM {edges_cte}
  UNION
  SELECT dst AS id, src AS nbr FROM {edges_cte}
)""",
        "jc_deg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM jc_adj GROUP BY 1)",
        f"""jc_common AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(COUNT(*) AS BIGINT) AS common
  FROM (SELECT DISTINCT src, dst FROM {edges_cte}) e
  JOIN jc_adj a ON a.id = e.src
  JOIN jc_adj b ON b.id = e.dst AND b.nbr = a.nbr
  GROUP BY 1, 2
)""",
    ]
    final = f"""SELECT e.src, e.dst,
       ROUND(CAST(COALESCE(c.common, 0) AS DOUBLE)
             / (ds.deg + dd.deg - COALESCE(c.common, 0)), {round_to}) AS jaccard
FROM {edges_cte} e
JOIN jc_deg ds ON ds.id = e.src
JOIN jc_deg dd ON dd.id = e.dst
LEFT JOIN jc_common c ON c.src = e.src AND c.dst = e.dst"""
    return ",\n".join(ctes), final
