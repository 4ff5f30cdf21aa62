"""Deduplication over ``documents`` — exact, n-gram Jaccard,
MinHash+LSH, SimHash (north-star extension, SURVEY.md §2.10).

Scale design (100 TB posture):
* Everything is inverted-index shaped: explode shingles → hash-join on
  shingle/bucket → aggregate. Never an O(n²) cross join — candidate
  pairs only ever come from shared buckets.
* MinHash signatures are 16 ``min`` aggregates of each row's hashed
  distinct shingles (``minhash_sets``): the one full-corpus shuffle
  carries 17 longs per doc and no text. They are banded into b=4
  bands of r=4 rows (tunable): the bucket key is the band index plus
  the band's r-minhash array, so a candidate pair must agree on ALL r
  hashes of some band — P(candidate) = 1-(1-s^r)^b, the standard LSH
  S-curve. r=1 banding (any single hash matching) floods the candidate
  set with low-similarity pairs at corpus scale; r≥2 keeps candidate
  volume ~linear in true near-dups. Candidates are confirmed with
  exact Jaccard over shingle sets rebuilt from their texts, which a
  second read of the docs joins to the candidate list only.
* All hashing is md5-derived integer arithmetic (functions/hashing.py)
  so the whole LSH pipeline — signatures, buckets, candidates,
  confirmation — is bit-identical in DuckDB and fully oracle-checked,
  which is rare for MinHash implementations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..rounding import ROUND_TO
from .hashing import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_MINHASHES,
    h32,
    minhash_expr,
)
from .text import SHINGLES_T_EXPR, doc_shingles

# ---- exact dedup -----------------------------------------------------

def with_synthetic_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ copies of every 100th doc (id offset 1e6) — the
    corpus has no exact duplicates, so tests/queries inject some to
    exercise the keep-min-id mapping.
    """
    dups = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(dups)


DD_SQL = """
dd AS MATERIALIZED (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % 100 = 0
)"""


def dedup_exact(docs_with_dups: DataFrame) -> DataFrame:
    """(doc_id, keep_id) for every removed duplicate: hash-groupBy on
    full text, keep the min id per group. The canonical exact-dedup
    plan: one shuffle on the text hash, no pairwise comparison.
    """
    keep = docs_with_dups.groupBy("text").agg(F.min("doc_id").alias("keep_id"))
    return (
        docs_with_dups.join(keep, "text")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", "keep_id")
    )


DEDUP_EXACT_SQL = """
SELECT d.doc_id, m.keep_id
FROM dd d
JOIN (SELECT text, MIN(doc_id) AS keep_id FROM dd GROUP BY text) m
  ON d.text = m.text
WHERE d.doc_id <> m.keep_id"""


def dedup_exact_stats(docs: DataFrame) -> DataFrame:
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        (F.count("*") - F.countDistinct("text")).alias("n_dup_docs"),
    )


DEDUP_EXACT_STATS_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
       CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_dup_docs
FROM documents"""


# ---- exact n-gram Jaccard (inverted index) ---------------------------

# Document-frequency ceiling for the inverted-index pair join: a
# shingle appearing in m documents contributes m·(m-1)/2 candidate
# pairs, so one boilerplate shingle (a nav bar, a license header) in a
# million web docs is a cartesian-class blowup all by itself. Shingles
# with df > this cap are dropped from the Jaccard UNIVERSE (both the
# intersection join and the per-doc sizes), which (a) bounds the pair
# join at df_cap·|distinct shingles| rows and (b) makes the score a
# Jaccard over *discriminative* shingles — near-ubiquitous shingles
# carry ~no ranking signal for top-k similarity anyway.
NGRAM_MAX_DF = 100


def _pair_counts(sh: DataFrame, max_df: int = NGRAM_MAX_DF) -> DataFrame:
    """(da, db, inter, sza, szb) over the df-capped shingle universe —
    the shared inverted-index pass behind Jaccard AND containment."""
    hot = sh.groupBy("s").agg(F.count("*").alias("__df")).filter(
        F.col("__df") > F.lit(max_df)
    )
    # anti-join against the (small: ≤ occurrences/max_df rows) hot set;
    # not force-broadcast — AQE picks broadcast when it fits, and at
    # corpus scale the hot set can itself exceed driver memory
    sh = sh.join(hot.select("s"), "s", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("da"), "s")
    b = sh.select(F.col("doc_id").alias("db"), "s")
    inter = (
        a.join(b, ["s"])
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    return inter.join(sa, "da").join(sb, "db")


def _pair_jaccard(sh: DataFrame, max_df: int = NGRAM_MAX_DF) -> DataFrame:
    """(da, db, jaccard) for all pairs sharing ≥1 surviving shingle —
    df-capped inverted index join, intersection counts, |A|+|B|-∩
    union sizes (sizes over the same capped universe).
    """
    return _pair_counts(sh, max_df).select(
        "da",
        "db",
        F.round(
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter")),
            6,
        ).alias("jaccard"),
    )


def dedup_ngram_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Top-k most similar pairs by exact 3-gram Jaccard (deterministic
    (jaccard DESC, da, db) order)."""
    return (
        _pair_jaccard(doc_shingles(docs))
        .orderBy(F.desc("jaccard"), F.asc("da"), F.asc("db"))
        .limit(k)
    )


# Uncapped pair-Jaccard CTE chain — the oracle twin for the LSH paths,
# whose Spark side confirms candidates with exact Jaccard over the FULL
# shingle sets (array_intersect on per-doc arrays). Fine for DuckDB at
# oracle scale; the Spark engine never builds this join uncapped.
PAIR_JACCARD_SQL = """
sh_sizes AS MATERIALIZED (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM doc_shingles GROUP BY 1
),
pair_inter AS MATERIALIZED (
    SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS inter
    FROM doc_shingles a
    JOIN doc_shingles b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pair_jaccard AS MATERIALIZED (
    SELECT p.da, p.db,
           ROUND(CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter), 6)
               AS jaccard
    FROM pair_inter p
    JOIN sh_sizes sa ON p.da = sa.doc_id
    JOIN sh_sizes sb ON p.db = sb.doc_id
)"""

# df-capped twin of the above — mirrors _pair_jaccard exactly (same
# NGRAM_MAX_DF, same capped universe for sizes AND intersections).
# Split in two so the containment readout (which reads pairc_inter /
# shc_sizes directly) doesn't drag a dead MATERIALIZED jaccard CTE.
PAIR_COUNTS_CAPPED_SQL = f"""
sh_capped AS MATERIALIZED (
    SELECT doc_id, s FROM doc_shingles
    WHERE s NOT IN (
        SELECT s FROM doc_shingles GROUP BY s HAVING COUNT(*) > {NGRAM_MAX_DF}
    )
),
shc_sizes AS MATERIALIZED (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh_capped GROUP BY 1
),
pairc_inter AS MATERIALIZED (
    SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS inter
    FROM sh_capped a
    JOIN sh_capped b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""

PAIR_JACCARD_CAPPED_SQL = PAIR_COUNTS_CAPPED_SQL + """,
pair_jaccard_capped AS MATERIALIZED (
    SELECT p.da, p.db,
           ROUND(CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter), 6)
               AS jaccard
    FROM pairc_inter p
    JOIN shc_sizes sa ON p.da = sa.doc_id
    JOIN shc_sizes sb ON p.db = sb.doc_id
)"""

DEDUP_NGRAM_TOPK_SQL = """
SELECT da, db, jaccard FROM pair_jaccard_capped
ORDER BY jaccard DESC, da ASC, db ASC LIMIT 50"""


def ngram_containment_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Top-k pairs by CONTAINMENT — inter / min(|A|, |B|) — over the
    same df-capped shingle universe as the Jaccard ranking. Containment
    is the quote/subset detector Jaccard misses: a short doc fully
    embedded in a long one scores 1.0 here but near 0 on Jaccard
    (the union is dominated by the long doc). Shares the inverted-index
    pass; deterministic (containment DESC, da, db) order."""
    return (
        _pair_counts(doc_shingles(docs))
        .select(
            "da",
            "db",
            F.round(
                F.col("inter").cast("double")
                / F.least(F.col("sza"), F.col("szb")),
                6,
            ).alias("containment"),
        )
        .orderBy(F.desc("containment"), F.asc("da"), F.asc("db"))
        .limit(k)
    )


# composes after PAIR_COUNTS_CAPPED_SQL (reuses pairc_inter/shc_sizes)
NGRAM_CONTAINMENT_TOPK_SQL = """
SELECT p.da, p.db,
       ROUND(CAST(p.inter AS DOUBLE) / LEAST(sa.sz, sb.sz), 6)
           AS containment
FROM pairc_inter p
JOIN shc_sizes sa ON p.da = sa.doc_id
JOIN shc_sizes sb ON p.db = sb.doc_id
ORDER BY containment DESC, da ASC, db ASC LIMIT 50"""


# ---- cross-source shingle overlap ------------------------------------

def cross_source_overlap(docs: DataFrame) -> DataFrame:
    """(source_a, source_b, shared, jaccard) — distinct-shingle overlap
    between every source pair: the corpus-provenance health check
    (mirrors of each other? shared boilerplate? leaked splits?).

    Scale shape: the join key is a SOURCE-distinct shingle, so each
    shingle contributes at most C(n_sources, 2) pairs — the hot-shingle
    blowup of doc-level inverted indexes is structurally impossible
    here; no df cap needed. One distinct, one self-join, one bounded
    aggregate."""
    ss = (
        docs.select("source", F.split("text", " ").alias("t"))
        .select("source", F.explode(F.expr(SHINGLES_T_EXPR)).alias("s"))
        .distinct()
    )
    sizes = ss.groupBy("source").agg(F.count("*").alias("sz"))
    a = ss.select(F.col("source").alias("source_a"), "s")
    b = ss.select(F.col("source").alias("source_b"), "s")
    pairs = (
        a.join(b, ["s"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("sz").alias("sza")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("sz").alias("szb")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared",
            F.round(
                F.col("shared").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("shared")),
                ROUND_TO,
            ).alias("jaccard"),
        )
    )


CROSS_SOURCE_OVERLAP_SQL = """
cso_sh AS MATERIALIZED (
  SELECT DISTINCT source, s FROM (
    SELECT source,
           unnest(CASE WHEN len(t) >= 3 THEN
               list_transform(generate_series(1, len(t) - 2),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))
               ELSE [] END) AS s
    FROM (SELECT source, string_split(text, ' ') AS t FROM documents))),
cso_sizes AS MATERIALIZED (
  SELECT source, COUNT(*) AS sz FROM cso_sh GROUP BY 1),
cso_pairs AS MATERIALIZED (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM cso_sh a JOIN cso_sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2)
SELECT p.source_a, p.source_b, p.shared,
       ROUND(CAST(p.shared AS DOUBLE) / (sa.sz + sb.sz - p.shared), 6)
           AS jaccard
FROM cso_pairs p
JOIN cso_sizes sa ON sa.source = p.source_a
JOIN cso_sizes sb ON sb.source = p.source_b"""


# ---- MinHash + LSH ---------------------------------------------------

LSH_BANDS = 4
LSH_ROWS = 4  # LSH_BANDS * LSH_ROWS == NUM_MINHASHES


def _permutation(k: int):
    # a fresh closure per k: F.transform reads the lambda's arity, so k
    # cannot ride along as a default argument
    return lambda h: minhash_expr(k, h)


def _min_hashes(hs: str) -> list[Column]:
    """The K min-hashes of the hashed shingle array column ``hs``, which
    a lower projection binds: each of the K lambdas indexes it, where an
    inlined ``hs`` would hash every shingle K times (SCALING.md §11)."""
    return [F.array_min(F.transform(hs, _permutation(k))) for k in range(NUM_MINHASHES)]


def _shingled(docs: DataFrame) -> DataFrame:
    """The (doc_id, text, t) rows of ``docs`` with ≥ 3 tokens ``t``: the
    rows with a shingle, which signatures and confirm step both read."""
    tok = docs.select("doc_id", "text", F.split("text", " ").alias("t"))
    return tok.filter(F.size("t") >= 3)


def minhash_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_{K-1}): the K min-hashes of each doc's distinct
    word-3-gram shingle set, from (doc_id, text) rows.

    Per row, the distinct shingles are hashed once (``hs``); each
    ``mh_k`` is a plain ``min`` of the rows' min-hashes. The min-hash of
    a union is the minimum of its parts', so a doc_id split across rows
    gets the signature of its whole shingle set, and the partial
    aggregate before the one shuffle is a codegen ``HashAggregate``
    over fixed-width buffers: K + 1 longs per doc and map task, no
    text. Docs with no shingle (NULL, empty, < 3 tokens) have no row.
    """
    hashed = _shingled(docs).select(
        "doc_id",
        F.transform(F.array_distinct(F.expr(SHINGLES_T_EXPR)), h32).alias("hs"),
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(m).alias(f"mh_{k}") for k, m in enumerate(_min_hashes("hs"))]
    )


def _bucket_pairs(
    sigs: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """Distinct (da < db) pairs sharing a banded LSH bucket of the
    ``minhash_sets`` frame ``sigs``. The bucket key is (band, sig) with
    ``sig`` the band's ``rows`` consecutive min-hashes, so bucket
    equality means all r hashes agree (P = s^r per band). The self-join
    is on (band, sig), never all-pairs, and carries doc ids only.
    """
    if bands * rows != NUM_MINHASHES:
        raise ValueError(
            f"bands*rows must equal NUM_MINHASHES={NUM_MINHASHES}"
        )
    entries = ", ".join(
        f"{i}, array({', '.join(f'mh_{i * rows + j}' for j in range(rows))})"
        for i in range(bands)
    )
    keys = sigs.selectExpr("doc_id", f"stack({bands}, {entries}) AS (band, sig)")
    a = keys.select(F.col("doc_id").alias("da"), "band", "sig")
    b = keys.select(F.col("doc_id").alias("db"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )


def _candidate_rows(docs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(da, db, ta, xb): each LSH candidate pair with the texts ``ta`` of
    da, once per text ``xb`` of db. The texts are those of ``_shingled``
    rows, joined to the candidate list first on da, collected per pair,
    then joined on db; no text meets the signatures or the bucket rows.
    """
    cand = _bucket_pairs(minhash_sets(docs), bands, rows)
    texts = _shingled(docs)
    a = texts.select(F.col("doc_id").alias("da"), F.col("text").alias("xa"))
    b = texts.select(F.col("doc_id").alias("db"), F.col("text").alias("xb"))
    return (
        cand.join(a, "da")
        .groupBy("da", "db")
        .agg(F.collect_list("xa").alias("ta"))
        .join(b, "db")
    )


def _shingle_set(texts: str) -> Column:
    """The distinct shingle set of the array of texts ``texts``. The
    outer ``transform`` binds each text's tokens once, so the shingle
    lambda ``SHINGLES_T_EXPR`` indexes a bound array ``t`` (SCALING.md
    §11)."""
    return F.expr(
        f"array_distinct(flatten(transform("
        f"transform({texts}, x -> split(x, ' ')), t -> {SHINGLES_T_EXPR})))"
    )


def _pair_sets() -> tuple[Column, Column]:
    """The shingle sets (sa, sb) of a candidate pair: aggregates over
    its ``_candidate_rows`` grouped by (da, db), where ``ta`` is one
    value per group."""
    return _shingle_set("first(ta)"), _shingle_set("collect_list(xb)")


def _exact_jaccard(sa: Column, sb: Column) -> Column:
    # sa, sb and inter repeat; subexpression elimination builds each once
    inter = F.size(F.array_intersect(sa, sb))
    return F.round(inter.cast("double") / (F.size(sa) + F.size(sb) - inter), 6)


MINHASH_THRESHOLD = 0.05


def dedup_minhash_lsh(
    docs: DataFrame, threshold: float = MINHASH_THRESHOLD
) -> DataFrame:
    """LSH candidates (shared (band, r-minhash-array) bucket) confirmed
    with exact Jaccard ≥ threshold → (da, db, jaccard).

    Scale shape: exact Jaccard is computed ONLY for candidate pairs —
    each candidate's texts are joined onto the (small) candidate list,
    shingled there into sets and intersected in place with
    ``array_intersect``. The full inverted-index pair join
    (``_pair_jaccard``) is never built here: on a skewed corpus a single
    hot shingle makes that self-join quadratic, while the banded
    candidate set stays ~linear in the number of true near-dups
    (P(candidate) = 1-(1-s^r)^b).

    One lazy plan, nothing cached. The signatures (``minhash_sets``) are
    the only full-corpus shuffle, no text; both bucket-join sides read
    it through reuse. ``docs`` is read twice: the texts reach the
    candidates by a second read (``_candidate_rows``), broadcast up to
    the broadcast threshold and shuffled once above it. For a parquet
    source that is a second scan, so a caller passing an expensive
    derived frame materializes it first. The Jaccard is computed in the
    aggregate that collects the texts, so the threshold filter sits
    above it and each pair's sets and intersection are built once. A
    caller reading the result twice materializes it (``dedup_clusters``).
    """
    sa, sb = _pair_sets()
    return (
        _candidate_rows(docs, LSH_BANDS, LSH_ROWS)
        .groupBy("da", "db")
        .agg(_exact_jaccard(sa, sb).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_sql_parts() -> str:
    # the band count is DERIVED (k // LSH_ROWS over NUM_MINHASHES hashes) —
    # an inconsistent LSH_BANDS would silently be ignored, so pin it
    assert LSH_BANDS * LSH_ROWS == NUM_MINHASHES
    params = ", ".join(
        f"({k}, {MINHASH_A[k]}, {MINHASH_B[k]})" for k in range(NUM_MINHASHES)
    )
    return f"""
mh_params AS (SELECT * FROM (VALUES {params}) AS t(k, a, b)),
doc_sh_h AS MATERIALIZED (
    SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h
    FROM doc_shingles
),
mh_sigs AS MATERIALIZED (
    SELECT doc_id, p.k, MIN((p.a * h.h + p.b) % {MINHASH_P}) AS mh
    FROM doc_sh_h h CROSS JOIN mh_params p
    GROUP BY 1, 2
),
mh_band AS MATERIALIZED (
    SELECT doc_id, CAST(k // {LSH_ROWS} AS INT) AS band, list(mh ORDER BY k) AS sig
    FROM mh_sigs GROUP BY 1, 2
),
mh_cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
    FROM mh_band a
    JOIN mh_band b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)"""


DEDUP_MINHASH_SQL = f"""
SELECT c.da, c.db, j.jaccard
FROM mh_cand c
JOIN pair_jaccard j ON c.da = j.da AND c.db = j.db
WHERE j.jaccard >= {MINHASH_THRESHOLD}"""


# ---- near-dup clustering (pairs → components → representative) -------

DEDUP_MAX_ITER = 4


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every doc in ≥1 near-dup pair: the full
    corpus-dedup pipeline shape — banded-LSH candidate pairs, exact
    Jaccard confirm, then connected components over the near-dup graph
    so transitive chains (A≈B≈C with A̸≈C) land in ONE cluster, with the
    min doc_id as the deterministic representative (keep cluster_id,
    drop the rest). This is where the graph engine and the LLM-data
    pipeline meet: the pair list feeds ``Graph.from_edges`` and the
    Spargel delta loop directly.

    ``DEDUP_MAX_ITER`` bounds propagation (exact for components of
    diameter ≤ DEDUP_MAX_ITER; near-dup clusters are cliques or short
    chains). Docs with no near-dup are absent (they keep themselves — no
    row needed).
    """
    from ..graph import Graph
    from ..library.connected_components import connected_components

    # connected_components reads its edge frame twice (vertices and
    # edges), and the pair list is a lazy plan over the whole corpus:
    # without this checkpoint the shingle-set shuffle and bucket join run
    # twice. The only caller that reuses the pairs, so the only one that
    # materializes them.
    pairs = dedup_minhash_lsh(docs).localCheckpoint(eager=True)
    edges = pairs.select(F.col("da").alias("src"), F.col("db").alias("dst"))
    comps = connected_components(Graph.from_edges(edges), max_iter=DEDUP_MAX_ITER)
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def dedup_clusters_sql(max_iter: int = DEDUP_MAX_ITER) -> tuple[str, str]:
    """(CTE text, final SELECT); composes after doc_shingles +
    pair_jaccard + minhash parts."""
    from ..library.connected_components import oracle_ctes

    pair_ctes = f"""
dd_pairs AS MATERIALIZED (
    SELECT c.da AS src, c.db AS dst
    FROM mh_cand c
    JOIN pair_jaccard j ON c.da = j.da AND c.db = j.db
    WHERE j.jaccard >= {MINHASH_THRESHOLD}
),
dd_docs AS MATERIALIZED (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM dd_pairs UNION SELECT dst FROM dd_pairs
    )
)"""
    cc_ctes, _ = oracle_ctes("dd_pairs", "dd_docs", max_iter)
    final = (
        f"SELECT id AS doc_id, comp AS cluster_id FROM c{max_iter}"
    )
    return pair_ctes + ",\n" + cc_ctes, final


# ---- SimHash ---------------------------------------------------------

SIMHASH_BITS = 60


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over token hashes: each token votes ±1 per bit,
    simhash bit j = 1 iff the vote sum is positive.

    Scale shape: ONE hash-aggregate pass over the token frame with 60
    conditional-sum expressions (bit j's vote is a branch on ``h & 2^j``
    inside the same agg) — no token×bit explode, so the shuffle input is
    the token frame itself, not 60× it. Map-side partial aggregation
    collapses each partition to one 60-column row per doc before the
    exchange. The 60 SUM slots are fixed-width longs in the hash-agg
    buffer; all post-agg arithmetic is per-doc, not per-token.
    """
    tok_h = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select(
            "doc_id",
            F.expr(
                "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"
            ).alias("h"),
        )
    )
    aggs = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.lit(1 << j).cast("long")) != 0, 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    wide = tok_h.groupBy("doc_id").agg(*aggs)
    fold = sum(
        (
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(1, SIMHASH_BITS)
        ),
        start=F.when(F.col("s0") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return wide.select("doc_id", fold.cast("long").alias("simhash"))


SIMHASH_CTES_SQL = f"""
tok_h AS MATERIALIZED (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest(t) AS tok FROM doc_tok)
),
bitsums AS MATERIALIZED (
    SELECT doc_id, j,
           SUM(CASE WHEN (h & (CAST(1 AS BIGINT) << j)) <> 0
                    THEN 1 ELSE -1 END) AS s
    FROM tok_h
    CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
    GROUP BY 1, 2
)"""

SIMHASH_FINAL_SQL = """
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM bitsums GROUP BY 1"""


# ---- benchmark contamination check -----------------------------------

CONTAMINATION_HOLDOUT_MOD = 37  # doc_id % MOD == 0 → held-out "benchmark" doc


def contamination_check(docs: DataFrame) -> DataFrame:
    """(doc_id, shared_ngrams, contamination_score) for every TRAINING
    doc (those NOT in the held-out set): how many of its distinct word
    3-gram shingles also appear in any held-out doc, and that count as a
    fraction of its shingles.

    The held-out set models an eval benchmark: deterministically
    ``doc_id % CONTAMINATION_HOLDOUT_MOD == 0`` here. Scale shape: the held-out
    shingle vocabulary is DISTINCT-ed then joined — for a real benchmark
    suite it is tiny relative to the corpus, so Spark broadcasts it and
    the check is one map-side semi-join + hash agg over the training
    shingles, never a doc×doc comparison. Docs with no shingles (<3
    tokens) have no score, matching the oracle.
    """
    sh = doc_shingles(docs)
    is_held = F.col("doc_id") % CONTAMINATION_HOLDOUT_MOD == 0
    held = sh.where(is_held).select("s").distinct()
    train = sh.where(~is_held)
    totals = train.groupBy("doc_id").agg(F.count("*").alias("total"))
    shared = train.join(held, "s").groupBy("doc_id").agg(
        F.count("*").alias("shared")
    )
    return (
        totals.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("shared"), F.lit(0)).cast("bigint").alias(
                "shared_ngrams"
            ),
            F.round(
                F.coalesce(F.col("shared"), F.lit(0)) / F.col("total"), 6
            ).alias("contamination_score"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = f"""
held AS MATERIALIZED (
    SELECT DISTINCT s FROM doc_shingles
    WHERE doc_id % {CONTAMINATION_HOLDOUT_MOD} = 0
),
train AS MATERIALIZED (
    SELECT doc_id, s FROM doc_shingles
    WHERE doc_id % {CONTAMINATION_HOLDOUT_MOD} <> 0
),
contam_tot AS (
    SELECT doc_id, COUNT(*) AS total FROM train GROUP BY 1
),
contam_hit AS (
    SELECT t.doc_id, COUNT(*) AS shared
    FROM train t JOIN held h ON t.s = h.s
    GROUP BY 1
)"""

CONTAMINATION_FINAL_SQL = """
SELECT t.doc_id,
       CAST(COALESCE(h.shared, 0) AS BIGINT) AS shared_ngrams,
       ROUND(COALESCE(h.shared, 0) * 1.0 / t.total, 6) AS contamination_score
FROM contam_tot t LEFT JOIN contam_hit h ON t.doc_id = h.doc_id
ORDER BY t.doc_id"""


def dedup_keep_set(docs: DataFrame) -> DataFrame:
    """(doc_id, reason) — the corpus-dedup ENDGAME: every document that
    survives near-dup collapse, i.e. all docs minus non-representative
    cluster members. ``reason`` says why a doc survived ('unique' — in
    no near-dup pair — or 'representative' — the min-id member of its
    cluster), which is the provenance column a curation pipeline keeps.

    One anti-join over the cluster assignment; at 100 TB the cluster
    frame is bounded by the number of near-dup docs, not the corpus.
    """
    clusters = dedup_clusters(docs)
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .filter(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        .select(
            "doc_id",
            F.when(F.col("cluster_id").isNull(), F.lit("unique"))
            .otherwise(F.lit("representative"))
            .alias("reason"),
        )
    )


def dedup_keep_sql(max_iter: int = 4) -> str:
    """Final SELECT composing after dedup_clusters_sql's CTEs."""
    return f"""SELECT d.doc_id,
       CASE WHEN c.id IS NULL THEN 'unique' ELSE 'representative' END AS reason
FROM documents d
LEFT JOIN c{max_iter} c ON d.doc_id = c.id
WHERE c.id IS NULL OR c.comp = d.doc_id"""


# ---- exact substring (passage) dedup ---------------------------------
#
# Duplicated n-token passages ACROSS documents, in the spirit of
# "Deduplicating Training Data Makes Language Models Better" (Lee et
# al., 2021): their suffix-array ExactSubstr pass finds verbatim spans
# repeated anywhere in the corpus. A distributed suffix array is the
# wrong tool on Spark; the equivalent hash-shaped plan is a rolling
# n-token window fingerprint + one hash-groupBy:
#
#   1. map-side: per doc, hash every n-token window (explode bounded by
#      doc length — only the 64-bit hash crosses the shuffle, never the
#      passage text);
#   2. one exchange: groupBy(window_hash), keep hashes seen in >= 2
#      distinct docs.
#
# At 100 TB this is a single corpus-token-count-sized shuffle of longs
# with map-side partial aggregation — the same shape as exact dedup,
# not pairwise. (Window hash collisions are the standard trade: with
# 32-bit md5-prefix hashes and ~corpus-token windows, collisions are
# possible at extreme scale; widen to two hash columns if that bites.)

PASSAGE_N = 8


def passage_windows(docs_with_dups: DataFrame, n: int = PASSAGE_N) -> DataFrame:
    """(doc_id, h) — one 32-bit hash per n-token window, map-side."""
    # token array bound in a lower projection: split() inside the
    # window lambda would re-tokenize per window (O(len^2) per doc)
    hashes = (
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> CAST(conv(substring(md5(concat_ws(' ', "
        f"slice(t, i, {n}))), 1, 8), 16, 10) AS BIGINT)) "
        "ELSE array() END"
    )
    return docs_with_dups.select(
        "doc_id", F.split("text", " ").alias("t")
    ).select("doc_id", F.explode(F.expr(hashes)).alias("h"))


def passage_dedup(docs_with_dups: DataFrame) -> DataFrame:
    """Passages (by window hash) appearing in >= 2 distinct documents:
    (passage_hash, n_docs, n_occ, first_doc)."""
    return (
        passage_windows(docs_with_dups, PASSAGE_N)
        .groupBy(F.col("h").alias("passage_hash"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occ"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("passage_hash"))
    )


def passage_dedup_sql() -> str:
    """DuckDB twin (composes after DD_SQL; tokenizes dd inline)."""
    return f"""SELECT passage_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= {PASSAGE_N} THEN
               list_transform(generate_series(1, len(t) - {PASSAGE_N - 1}),
                   i -> CAST(concat('0x', substr(md5(array_to_string(
                       list_slice(t, i, i + {PASSAGE_N - 1}), ' ')), 1, 8)) AS BIGINT))
               ELSE [] END) AS passage_hash
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM dd)
)
GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, passage_hash ASC"""


# ---- winnowing fingerprints ------------------------------------------
#
# Robust winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS algorithm): hash every k-gram, then keep the MINIMUM hash in
# each sliding window of w consecutive k-gram hashes. Guarantee: any
# shared substring of length >= w + k - 1 contributes at least one
# shared fingerprint, while only ~2/(w+1) of hashes are kept — the
# classic density/recall trade for plagiarism & near-dup detection.
#
# Scale shape: fingerprint selection is PURE map-side (token array and
# k-gram hash array bound once per row — SCALING.md §11 discipline —
# then a window-min per position and a distinct); the pair join is an
# inverted index on the winnowed fingerprints with the same hot-key
# document-frequency cap as the n-gram path, so a boilerplate
# fingerprint shared by m docs cannot contribute m^2 pairs.

WINNOW_K = 4   # k-gram (tokens) per hash
WINNOW_W = 4   # window of consecutive k-gram hashes
WINNOW_MAX_DF = 100
WINNOW_TOP_K = 50


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — distinct winnowed fingerprints per document."""
    gram_hashes = (
        f"CASE WHEN size(t) >= {WINNOW_K} THEN "
        f"transform(sequence(1, size(t) - {WINNOW_K - 1}), "
        f"i -> CAST(conv(substring(md5(concat_ws(' ', slice(t, i, {WINNOW_K}))),"
        f" 1, 8), 16, 10) AS BIGINT)) ELSE array() END"
    )
    mins = (
        f"CASE WHEN size(h) >= {WINNOW_W} THEN "
        f"transform(sequence(1, size(h) - {WINNOW_W - 1}), "
        f"j -> array_min(slice(h, j, {WINNOW_W}))) "
        "WHEN size(h) > 0 THEN array(array_min(h)) ELSE array() END"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.expr(gram_hashes).alias("h"))
        .select("doc_id", F.explode(F.expr(mins)).alias("fp"))
        .distinct()
    )


def winnow_dup_pairs(docs_with_dups: DataFrame) -> DataFrame:
    """Top document pairs by shared winnowed-fingerprint count
    (da < db): the MOSS-style candidate generator, df-capped."""
    # The fingerprint frame feeds three consumers (df count + both pair
    # sides); unpersisted that is three full corpus scans + three
    # winnowing passes. Persist for the duration of the call only —
    # result is materialized eagerly, then the scratch is released.
    fps = winnow_fingerprints(docs_with_dups).persist()
    try:
        dfreq = fps.groupBy("fp").agg(F.count("*").alias("df"))
        keep = dfreq.filter(F.col("df") <= WINNOW_MAX_DF).select("fp")
        capped = fps.join(keep, "fp", "left_semi")
        a = capped.select(F.col("doc_id").alias("da"), "fp")
        b = capped.select(F.col("doc_id").alias("db"), "fp")
        return (
            a.join(b, "fp")
            .filter(F.col("da") < F.col("db"))
            .groupBy("da", "db")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .orderBy(F.desc("n_shared"), "da", "db")
            .limit(WINNOW_TOP_K)
            .localCheckpoint(eager=True)
        )
    finally:
        fps.unpersist()


def winnow_sql() -> tuple[str, str]:
    """(CTE text, final SELECT) — composes after DD_SQL."""
    ctes = f"""wn_fp AS MATERIALIZED (
    SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(h) >= {WINNOW_W} THEN
                   list_transform(generate_series(1, len(h) - {WINNOW_W - 1}),
                       j -> list_min(list_slice(h, j, j + {WINNOW_W - 1})))
               WHEN len(h) > 0 THEN [list_min(h)] ELSE [] END) AS fp
        FROM (
            SELECT doc_id,
                   CASE WHEN len(t) >= {WINNOW_K} THEN
                       list_transform(generate_series(1, len(t) - {WINNOW_K - 1}),
                           i -> CAST(concat('0x', substr(md5(array_to_string(
                               list_slice(t, i, i + {WINNOW_K - 1}), ' ')), 1, 8))
                               AS BIGINT))
                   ELSE [] END AS h
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM dd)
        )
    )
),
wn_keep AS MATERIALIZED (
    SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM wn_fp GROUP BY 1)
    WHERE df <= {WINNOW_MAX_DF}
)"""
    final = f"""SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM (SELECT * FROM wn_fp WHERE fp IN (SELECT fp FROM wn_keep)) a
JOIN (SELECT * FROM wn_fp WHERE fp IN (SELECT fp FROM wn_keep)) b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY n_shared DESC, da, db LIMIT {WINNOW_TOP_K}"""
    return ctes, final


# ---- n-gram novelty (data-valuation screen) --------------------------

def ngram_novelty(docs: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_seen, novelty) — fraction of each doc's
    distinct shingles NOT already contributed by any earlier doc
    (doc_id order): the marginal-contribution / data-valuation screen —
    a doc whose shingles all appeared before adds ~nothing to the
    corpus even if it's no exact near-dup of anyone.

    Scale shape: shingle first-seen owner is ONE (shingle)-keyed min
    aggregate over the distinct shingle frame; the per-doc readout is
    one more bounded aggregate. No pair join at all — novelty is the
    O(occurrences) complement to the pairwise dedup rankings."""
    sh = doc_shingles(docs)
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    seen = F.sum((F.col("first_doc") < F.col("doc_id")).cast("long"))
    return (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            seen.cast("long").alias("n_seen"),
            F.round(F.lit(1.0) - seen / F.count("*"), ROUND_TO).alias(
                "novelty"
            ),
        )
    )


# composes after DOC_TOK_SQL + DOC_SHINGLES_SQL
NGRAM_NOVELTY_SQL = """
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc < d.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seen,
       ROUND(1.0 - SUM(CASE WHEN f.first_doc < d.doc_id THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*), 6) AS novelty
FROM doc_shingles d
JOIN (SELECT s, MIN(doc_id) AS first_doc FROM doc_shingles GROUP BY 1) f
  ON d.s = f.s
GROUP BY 1"""


# ---- SimHash near-dup pairs (banded hamming, Manku et al. 2007) ------

SIMHASH_NEAR_BANDS = 4  # 15-bit bands over the 60-bit fingerprint
SIMHASH_MAX_HAMMING = 3  # pigeonhole: ≤3 flipped bits ⇒ ≥1 clean band


def simhash_near_dup(docs_with_dups: DataFrame) -> DataFrame:
    """(da, db, hamming) — pairs within ``SIMHASH_MAX_HAMMING`` SimHash bits,
    via the Google crawl-dedup scheme (Manku, Jarmulin & Das Sarma
    2007): the 60-bit fingerprint splits into 4 15-bit bands; any pair
    within hamming ≤3 agrees EXACTLY on ≥1 band (pigeonhole), so
    candidates come from 4 band-keyed equi-joins over narrow
    (doc_id, band, key) rows — never an all-pairs XOR — and one
    codegen'd popcount confirms. Recall is exact (not probabilistic)
    for the hamming bound. Hot band-buckets (mass-produced template
    pages) get the same df-cap treatment as hot shingles at corpus
    scale."""
    fp = simhash(docs_with_dups)
    band_w = SIMHASH_BITS // SIMHASH_NEAR_BANDS
    mask = (1 << band_w) - 1
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_w)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(SIMHASH_NEAR_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a = bands.select(
        F.col("doc_id").alias("da"), F.col("simhash").alias("fa"),
        "band", "key",
    )
    b = bands.select(
        F.col("doc_id").alias("db"), F.col("simhash").alias("fb"),
        "band", "key",
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", "fa", "fb")
        .distinct()
    )
    return (
        cand.select(
            "da",
            "db",
            F.bit_count(
                F.col("fa").bitwiseXOR(F.col("fb"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def simhash_near_dup_sql() -> tuple[str, str]:
    """(CTEs, final SELECT) DuckDB twin over the dup-injected corpus
    (``dd`` from DD_SQL)."""
    band_w = SIMHASH_BITS // SIMHASH_NEAR_BANDS
    mask = (1 << band_w) - 1
    band_rows = "\n    UNION ALL\n".join(
        f"""    SELECT doc_id, fp, {b} AS band,
           (fp >> {b * band_w}) & {mask} AS key FROM sd_fp"""
        for b in range(SIMHASH_NEAR_BANDS)
    )
    ctes = f"""sd_h AS MATERIALIZED (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM dd)
),
sd_bits AS MATERIALIZED (
    SELECT doc_id, j,
           SUM(CASE WHEN (h & (CAST(1 AS BIGINT) << j)) <> 0
                    THEN 1 ELSE -1 END) AS s
    FROM sd_h
    CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
    GROUP BY 1, 2
),
sd_fp AS MATERIALIZED (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                         ELSE 0 END) AS BIGINT) AS fp
    FROM sd_bits GROUP BY 1
),
sd_bands AS MATERIALIZED (
{band_rows}
),
sd_cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
           a.fp AS fa, b.fp AS fb
    FROM sd_bands a JOIN sd_bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""
    final = f"""SELECT da, db,
       CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM sd_cand WHERE bit_count(xor(fa, fb)) <= {SIMHASH_MAX_HAMMING}"""
    return ctes, final


# ---- MinHash estimator calibration -----------------------------------

def minhash_calibration(docs: DataFrame) -> DataFrame:
    """(err_bucket, n_pairs, mean_est, mean_exact) — |MinHash-estimated
    − exact| Jaccard error over the LSH candidate pairs, bucketed at
    0.1: the sketch-calibration readout (est = matching permutations /
    16; with 16 permutations the standard error is ~0.12 at s=0.25, so
    mass should sit in the first two buckets).

    Same exact-vs-sketch pairing policy as two_hop vs HLL: measure the
    estimator against ground truth on the candidate set instead of
    assuming the textbook bound. Candidates only — never all pairs.
    Both sides' signatures are recomputed from the candidate's shingle
    sets, which the confirm step builds anyway: the min-hash of a union
    is the minimum of its parts, so they equal ``minhash_sets``'."""
    sa, sb = _pair_sets()
    sets = (
        _candidate_rows(docs, LSH_BANDS, LSH_ROWS)
        .groupBy("da", "db")
        .agg(sa.alias("sa"), sb.alias("sb"))
        .select("sa", "sb", *[F.transform(c, h32).alias(f"h{c}") for c in ("sa", "sb")])
    )
    pairs = zip(_min_hashes("hsa"), _min_hashes("hsb"))
    match = sum(((a == b).cast("int") for a, b in pairs), F.lit(0))
    paired = sets.select(
        (match.cast("double") / F.lit(float(NUM_MINHASHES))).alias("est"),
        _exact_jaccard(F.col("sa"), F.col("sb")).alias("exact"),
    )
    bucket = F.least(
        F.floor(F.abs(F.col("est") - F.col("exact")) * 10), F.lit(9)
    )
    return paired.groupBy(bucket.cast("long").alias("err_bucket")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("est"), 6).alias("mean_est"),
        F.round(F.avg("exact"), 6).alias("mean_exact"),
    )


# composes after DOC_TOK_SQL + DOC_SHINGLES_SQL + minhash_sql_parts()
MINHASH_CALIBRATION_SQL = f"""
SELECT CAST(LEAST(FLOOR(ABS(est - exact) * 10), 9) AS BIGINT)
           AS err_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(est), 6) AS mean_est,
       ROUND(AVG(exact), 6) AS mean_exact
FROM (
    SELECT mm.da, mm.db, mm.m * 1.0 / {NUM_MINHASHES} AS est,
           ROUND(CAST(len(list_intersect(ga.ss, gb.ss)) AS DOUBLE)
                 / (len(ga.ss) + len(gb.ss)
                    - len(list_intersect(ga.ss, gb.ss))), 6) AS exact
    FROM (
        SELECT c.da, c.db,
               SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS m
        FROM mh_cand c
        JOIN mh_sigs sa ON sa.doc_id = c.da
        JOIN mh_sigs sb ON sb.doc_id = c.db AND sb.k = sa.k
        GROUP BY 1, 2) mm
    JOIN (SELECT doc_id, list(DISTINCT s) AS ss FROM doc_shingles
          GROUP BY 1) ga ON ga.doc_id = mm.da
    JOIN (SELECT doc_id, list(DISTINCT s) AS ss FROM doc_shingles
          GROUP BY 1) gb ON gb.doc_id = mm.db)
GROUP BY 1"""
