"""Per-edge Adamic–Adar similarity — Σ 1/ln(deg(w)) over common
neighbors w of the edge endpoints (Gelly-successor
library/similarity/AdamicAdar; the prototype reference stops at
Jaccard, so this is a §2.10 extension sharing its machinery).

Plan (r7, third design — the two predecessors are below): every
common neighbor w of an edge (u, v) closes the triangle {u, v, w}, so
AA is a TRIANGLE-CREDIT sum — reuse ``library.triangles``' degree-
oriented enumeration (tournament orientation x→y→z; out-fan ≤
O(sqrt m)) and have each triangle credit its three edges with the
opposite corner's weight: edge (x, y) ← wgt(z), (x, z) ← wgt(y),
(y, z) ← wgt(x). The out-adjacency arrays pack (deg(nbr) << 40) | nbr
into ONE LONG, so wgt(z) is recovered from the intersection element
by bit-shift — no lookup — while wgt(x)/wgt(y) were attached to the
m-row oriented-edge frame before enumeration. All credits are emitted
in a single pass over the enumeration: the (x, y) edge's own credit
folds IN-STAGE to one row (F.aggregate over the intersection), and
only the redistributing (x, z)/(y, z) credits — 2·#triangles rows —
flow to the grouped sum. Nothing wide ever joins: the big structures
are the Σ out² oriented attach the triangle count itself survives at
the 100x sweep point, and the 2T credit shuffle (the in-stage fold
cut it from 3T — at 100x that third was the difference between disk
exhaustion and completing).

The committed record for this plan is SWEEP_r08: p100 completes at
930.0s in-sweep / 903.4s solo (every earlier 100x attempt died on
disk), exp 1.35 in-sweep, via the disk-bounded wave enumeration
(``triangles._wave_count`` — see SCALING.md §26). Two rejected
designs, both measured at the sweep points before this one landed:

- explode-the-intersection-and-join-degrees (pre-r7): the 3·#triangle
  row stream SHUFFLES for the degree join — "No space left on device"
  at the 100x point (>60 GB scratch) even from a clean disk.
- FULL-neighborhood packed/struct arrays joined to each edge
  (jaccard's shape): the attach is Σ deg² elements (~230 GB at the
  100x co-purchase graph, avg degree ~120) which must sort for the
  second endpoint join — jaccard survives it only by spilling ~40 GB;
  adamic died on the same box twice. (The struct variant is also
  CPU-wrong: ``array_intersect`` hash-accelerates only ATOMIC element
  types; structs take the pairwise-scan fallback — measured 14x
  slower at the 1x point.) Degree orientation shrinks the attach from
  Σ deg² to Σ out² — the same step that took triangle counting from
  disk-fatal to 416s.

Packing domain (guarded with a loud raise_error, same convention as
random_walks/MIS id bit-packing): vertex ids must be non-negative
longs < 2^40 (~1.1e12 — covers TPC-H keys past SF100k; the guard
fires before any wrong result), distinct degrees < 2^23 (~8.4M).
Common neighbors always have full degree ≥ 2, so the fold only ever
evaluates ln(deg) > 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.iterate import waves
from ..plans.checkpoints import scratch_scope
from ..rounding import ROUND_TO


@scratch_scope
def _degrees_and_orientation(
    ec: DataFrame, canonical: bool
) -> tuple[DataFrame, DataFrame]:
    """(deg, oe): the (id, deg) checkpoint and the degree-oriented (a, b)
    checkpoint of the canonical edges ``ec``, deduped unless
    ``canonical``. The dedup checkpoint feeds only these two, so the
    scope frees it at return, before the enumeration runs."""
    from .triangles import _distinct_edges, _oriented_edges

    de = _distinct_edges(ec, canonical)
    # ONE degree aggregation per query (r10): over the DEDUPED canonical
    # set each endpoint's neighbors appear exactly once in the union, so
    # count(*) here ≡ the old count_distinct over the raw pairs (the
    # oracle's aa_deg over the UNION-distinct adjacency agrees the same
    # way). Checkpointing the compact (id, deg) frame lets the
    # orientation job, the 1/ln(deg) weights and the packed-degree
    # attach all read the SAME materialized rows — previously the
    # orientation recomputed its own union+agg inside the oe checkpoint
    # job (cross-job, so exchange reuse could never deduplicate it) and
    # the weights re-derived theirs in the main job.
    deg = (
        de.select(F.col("src").alias("id"))
        .unionByName(de.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    oe = _oriented_edges(
        de, deg.select("id", F.col("deg").alias("d"))
    ).select("a", "b").localCheckpoint(eager=True)
    return deg, oe


@scratch_scope
def adamic_adar(graph: Graph, round_to: int | None = ROUND_TO) -> DataFrame:
    """Returns (src, dst, aa) for every edge; neighborhoods over the
    undirected view, 0.0 when the endpoints share no neighbor."""
    e = graph.edges.select("src", "dst")

    # canonicalize before enumerating: the API (unlike the triangles
    # module's declared src<dst contract) accepts edges in either
    # orientation — (4, 1) and (1, 4) are the same undirected edge and
    # must not enumerate twice. The dedup skip is gated on
    # ``canonical_edges`` (src<dst already holds, projection is the
    # identity), NOT on ``distinct_edges``: a symmetrized graph carries
    # both orientations as distinct directed rows, and canonicalizing
    # them yields exact duplicates that would double every AA score
    # (r7 bug on customer_supplier_undirected_graph).
    ec = e.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    deg, oe = _degrees_and_orientation(ec, graph.canonical_edges)
    wgt = deg.select(
        "id",
        F.when(
            F.col("deg") >= 2,
            F.lit(1.0) / F.log(F.col("deg").cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("wgt"),
    )

    packed = F.when(
        (F.col("b") < 0)
        | (F.col("b") >= F.lit(1 << 40))
        | (F.col("deg") >= F.lit(1 << 23)),
        F.raise_error(
            "adamic_adar packed-long domain exceeded: vertex ids must be in"
            " [0, 2^40) and distinct degrees < 2^23"
        ).cast("long"),
    ).otherwise(F.shiftleft(F.col("deg"), 40) + F.col("b"))
    op = oe.join(deg.select(F.col("id").alias("b"), "deg"), "b").select(
        "a", packed.alias("p")
    )
    outadj = op.groupBy("a").agg(F.sort_array(F.collect_set("p")).alias("ns"))

    # oriented edges with endpoint weights on the row + both packed
    # out-arrays; a always has out-edges, b may be a DAG sink (left
    # join, empty intersection)
    def _attach(edges):
        return (
            edges
            .join(wgt.select(F.col("id").alias("a"), F.col("wgt").alias("wa")),
                  "a")
            .join(wgt.select(F.col("id").alias("b"), F.col("wgt").alias("wb")),
                  "b")
            .join(outadj.select(F.col("a"), F.col("ns").alias("na")), "a")
            .join(outadj.select(F.col("a").alias("b"), F.col("ns").alias("nb")),
                  "b", "left")
            .select(
                "a", "b", "wa", "wb",
                F.array_intersect(
                    "na", F.coalesce("nb", F.array().cast("array<long>"))
                ).alias("cs"),
            )
            .filter(F.size("cs") > 0)
        )

    # DISK-BOUNDED ENUMERATION (r8 — the fix for the p100 disk death
    # every r7 sweep attempt recorded): the enumeration's by-b shuffle
    # carries the packed na arrays — 8 B x Σ out² of payload, measured
    # 6.7 GB at the 10x point and therefore ~67 GB at 100x under
    # disjoint replication, which exceeds a single box's free scratch
    # once sort spill doubles it. triangles._wave_count sizes waves of
    # ~WAVE_TARGET_BYTES each and ``operators.iterate.waves`` runs them
    # over hash(a, b) slices; every wave's narrow output
    # (triangle-carrying edges + their cs arrays — 8.1M rows / 18.8M
    # elements at 10x) is checkpointed and the wave's scratch drained
    # before the next begins. One wave (every graph below
    # WAVE_EDGE_THRESHOLD, and a bigger one whose stream fits one
    # wave): the plan is byte-identical to the r7 design, checkpointed
    # once, and drains nothing.
    from .triangles import _wave_count

    n_waves = _wave_count(oe, graph.edge_count_hint())
    if n_waves > 1:
        # checkpoint the shared compact frames once so waves do not
        # re-run the degree union / packing / adjacency work (_attach
        # is a closure over these names — rebinding rewires it)
        wgt = wgt.localCheckpoint(eager=True)
        outadj = outadj.localCheckpoint(eager=True)
    # the enriched waves read none of oe, outadj, wgt and deg: the
    # scope frees their checkpoints at return (the tail runs no job)
    enriched = waves(oe, _attach, n_waves, ("a", "b"))
    # every triangle credits its three edges with the opposite corner's
    # weight in ONE map-side pass over the enumeration (a multi-branch
    # union would re-run it per branch): the (a, b) edge's whole credit
    # Σ wgt(c) COLLAPSES IN-STAGE to one row via an F.aggregate fold
    # (shiftright recovers the exact integer degree, so each term is
    # the same double the oracle's 1/ln(deg) produces), while the
    # (a, c) / (b, c) credits — which genuinely redistribute to other
    # edges — carry wgt(b) / wgt(a) from the pre-attached row columns.
    # Folding (a, b) instead of exploding it cuts the credit stream
    # from 3T to 2T rows; at the 100x point that third was the margin
    # between "No space left on device" and completing (the stream's
    # shuffle coexists on disk with the enumeration's Σ out² shuffle
    # files, and partial aggregation can't shrink it — credit keys
    # within a task are mostly unique).
    mask = F.lit((1 << 40) - 1)
    unpack_wgt = lambda p: F.lit(1.0) / F.log(  # noqa: E731
        F.shiftright(p, 40).cast("double")
    )
    credit = lambda x, y, s: F.struct(  # noqa: E731 — canonical row
        F.least(x, y).alias("src"), F.greatest(x, y).alias("dst"),
        s.alias("s"),
    )
    fold_ab = F.aggregate(
        "cs", F.lit(0.0), lambda acc, p: acc + unpack_wgt(p)
    )
    scores = (
        enriched.select(
            F.explode(
                F.concat(
                    F.array(credit(F.col("a"), F.col("b"), fold_ab)),
                    F.transform(
                        "cs",
                        lambda p: credit(
                            F.col("a"), p.bitwiseAND(mask), F.col("wb")
                        ),
                    ),
                    F.transform(
                        "cs",
                        lambda p: credit(
                            F.col("b"), p.bitwiseAND(mask), F.col("wa")
                        ),
                    ),
                )
            ).alias("t")
        )
        .select("t.src", "t.dst", "t.s")
        .groupBy("src", "dst")
        .agg(F.sum("s").alias("s"))
    )
    # one output row per ORIGINAL edge row in its ORIGINAL orientation
    # (dup rows in a multigraph re-read the same deduped score; the
    # enumeration itself ran on the canonicalized deduped edge set, so
    # nothing double-counts). Summation order is the groupBy's — 6-dp
    # rounding absorbs the float-order gap vs the oracle's unordered
    # SUM, as it did for every prior plan.
    return (
        e.join(
            scores.select(
                F.col("src").alias("_cs"), F.col("dst").alias("_cd"), "s"
            ),
            (F.least("src", "dst") == F.col("_cs"))
            & (F.greatest("src", "dst") == F.col("_cd")),
            "left",
        )
        .select(
            "src",
            "dst",
            F.round(F.coalesce(F.col("s"), F.lit(0.0)), round_to).alias("aa"),
        )
    )


def oracle_ctes(edges_cte: str) -> tuple[str, str]:
    """(CTE text, final SELECT); same shape as jaccard.oracle_ctes."""
    ctes = [
        f"""aa_adj AS MATERIALIZED (
  SELECT src AS id, dst AS nbr FROM {edges_cte}
  UNION
  SELECT dst AS id, src AS nbr FROM {edges_cte}
)""",
        "aa_deg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM aa_adj GROUP BY 1)",
        f"""aa_s AS MATERIALIZED (
  SELECT e.src, e.dst, SUM(1.0 / ln(d.deg)) AS s
  FROM (SELECT DISTINCT src, dst FROM {edges_cte}) e
  JOIN aa_adj a ON a.id = e.src
  JOIN aa_adj b ON b.id = e.dst AND b.nbr = a.nbr
  JOIN aa_deg d ON d.id = a.nbr
  GROUP BY 1, 2
)""",
    ]
    final = f"""SELECT e.src, e.dst,
       ROUND(COALESCE(c.s, 0.0), {ROUND_TO}) AS aa
FROM {edges_cte} e
LEFT JOIN aa_s c ON c.src = e.src AND c.dst = e.dst"""
    return ",\n".join(ctes), final


class AdamicAdar:
    """GraphAlgorithm packaging: edge value = Adamic-Adar score."""

    def run(self, graph: Graph) -> Graph:
        scored = adamic_adar(graph, round_to=None).withColumnRenamed("aa", "value")
        return Graph(graph.vertices, scored)
