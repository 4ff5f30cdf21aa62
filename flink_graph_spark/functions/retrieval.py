"""Corpus retrieval & statistical scoring over ``documents`` — TF-IDF
top terms, BM25 ranking, and unigram language-model NLL quality scoring
(north-star LLM-pipeline extensions, SURVEY.md §2.10; the reference
`andralungu/flink-graph` is a graph library with no text surface).

Everything is native Spark SQL expressions — token explode, two hash
aggregates (term frequency, document frequency), one join keyed on the
term, and a per-document ranking window. No Python UDFs anywhere, so
whole-stage codegen applies and DuckDB can replay the exact arithmetic.

Scale posture (100 TB corpus):
* The token explode is linear in corpus size and map-side only.
* The document-frequency / unigram-count frames are VOCABULARY-sized —
  orders of magnitude smaller than the corpus — so the term join is a
  broadcast-able dimension join at real scale (Spark's AQE converts it
  automatically once the agg side fits the broadcast threshold).
* Corpus-level scalars (N docs, total tokens, avg doc length) are 1-row
  aggregates attached by broadcast cross-join — never a driver collect.
* The TF-IDF top-k window partitions by doc_id — one shuffle keyed by
  the highest-cardinality column, no skew (documents are bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..rounding import ROUND_TO

# BM25 constants (standard Robertson/Sparck-Jones defaults)
BM25_K1 = 1.2
BM25_B = 0.75
# fixed benchmark query: two ubiquitous terms + one rare term ("dup"
# appears in ~5% of synthetic docs) so idf separates scores
BM25_QUERY_TERMS = ("join", "dup", "spark")
BM25_TOP_K = 20


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, term) one row per token OCCURRENCE (repeats kept)."""
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` terms per document by tf·idf, idf = ln(N/df).

    Returns (doc_id, term, rank, tfidf); deterministic tie-break on the
    term string so the ranking window is oracle-exact.
    """
    toks = _doc_tokens(docs)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("__n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("__n") / F.col("df"))).alias("s"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            F.col("rank").cast("long").alias("rank"),
            F.round("s", ROUND_TO).alias("tfidf"),
        )
    )


def tfidf_sql(k: int = 3) -> str:
    return f"""WITH tok AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS MATERIALIZED (
    SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
),
dfreq AS MATERIALIZED (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
),
scored AS (
    SELECT t.doc_id, t.term,
           t.tf * ln((SELECT COUNT(*) FROM documents) * 1.0 / d.df) AS s
    FROM tf t JOIN dfreq d USING (term)
)
SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, ROUND(s, {ROUND_TO}) AS tfidf
FROM (
    SELECT doc_id, term, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY s DESC, term ASC) AS rank
    FROM scored
) WHERE rank <= {k}"""


def bm25_search(
    docs: DataFrame, query_terms: tuple[str, ...] = BM25_QUERY_TERMS
) -> DataFrame:
    """BM25 top-``BM25_TOP_K`` documents for a fixed bag-of-words query.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (always positive);
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).
    Returns (doc_id, score) ordered by (score DESC, doc_id ASC) LIMIT k.
    """
    toks = _doc_tokens(docs)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    consts = docs.agg(F.count("*").alias("__n")).crossJoin(
        dl.agg(F.avg("dl").alias("__avgdl"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("__avgdl")
    )
    per_term = (
        tf.join(df, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            (idf * F.col("tf") * F.lit(BM25_K1 + 1.0) / denom).alias("s"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(F.round(F.sum("s"), ROUND_TO).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


def bm25_sql() -> str:
    terms_in = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""WITH tok AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
tf AS MATERIALIZED (
    SELECT doc_id, term, COUNT(*) AS tf FROM tok
    WHERE term IN ({terms_in}) GROUP BY 1, 2
),
dfreq AS MATERIALIZED (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
consts AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n,
           (SELECT AVG(dl) FROM dl) AS avgdl
)
SELECT doc_id, ROUND(SUM(s), {ROUND_TO}) AS score FROM (
    SELECT t.doc_id,
           ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
             * t.tf * {BM25_K1 + 1.0}
             / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * l.dl / c.avgdl)) AS s
    FROM tf t
    JOIN dfreq d USING (term)
    JOIN dl l USING (doc_id)
    CROSS JOIN consts c
) GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOP_K}"""


def unigram_nll(docs: DataFrame) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram model — the classic cheap LM-quality filter (documents with
    improbable token distributions score high and get dropped/flagged).

    p(t) = count(t) / total_tokens over the whole corpus;
    nll(d) = -mean over d's token occurrences of ln p(t).
    Returns (doc_id, n_tokens, nll).
    """
    toks = _doc_tokens(docs)
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("__t"))
    return (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                -F.avg(F.log(F.col("c") / F.col("__t"))), ROUND_TO
            ).alias("nll"),
        )
    )


def unigram_nll_sql() -> str:
    return f"""WITH tok AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
counts AS MATERIALIZED (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(-AVG(ln(c.c * 1.0 / (SELECT SUM(c) FROM counts))),
             {ROUND_TO}) AS nll
FROM tok t JOIN counts c USING (term)
GROUP BY 1"""


# ---- interpolated bigram LM ------------------------------------------

BIGRAM_LAMBDA = 0.75


def bigram_nll(docs: DataFrame) -> DataFrame:
    """Per-document mean NLL under a Jelinek–Mercer interpolated bigram
    model trained on the corpus itself — the step up from
    ``unigram_nll`` as a cheap LM-quality / domain-shift filter:

        p(cur | prev) = l * c(prev,cur)/c(prev) + (1-l) * c(cur)/T

    Plan shape: bigram pairs are generated map-side per row (no
    self-join), both count tables are vocabulary-bounded aggregates
    (auto-broadcast at any corpus scale with a bounded vocab), and the
    per-doc agg is one exchange on doc_id. Returns
    (doc_id, n_bigrams, nll).
    """
    # bind the token array below the lambda (split() in the lambda
    # body re-tokenizes per bigram position — O(len^2) per doc)
    pairs_expr = (
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) AS prev, "
        "element_at(t, i + 1) AS cur)) "
        "ELSE array() END"
    )
    pairs = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.explode(F.expr(pairs_expr)).alias("p"))
        .select("doc_id", "p.prev", "p.cur")
    )
    toks = _doc_tokens(docs)
    uni = toks.groupBy(F.col("term")).agg(F.count("*").alias("c1"))
    total = uni.agg(F.sum("c1").alias("__t"))
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    # history count = #bigrams starting with prev (NOT the unigram count:
    # tokens with no successor would deflate the lambda term and p(.|prev)
    # would not sum to 1)
    hist = bi.groupBy("prev").agg(F.sum("c2").alias("ch"))
    lam = F.lit(BIGRAM_LAMBDA)
    return (
        pairs.join(bi, ["prev", "cur"])
        .join(hist, "prev")
        .join(
            uni.selectExpr("term AS cur", "c1 AS c1_cur"),
            "cur",
        )
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                -F.avg(
                    F.log(
                        lam * F.col("c2") / F.col("ch")
                        + (F.lit(1.0) - lam) * F.col("c1_cur") / F.col("__t")
                    )
                ),
                ROUND_TO,
            ).alias("nll"),
        )
    )


def bigram_nll_sql() -> str:
    return f"""WITH tok AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
pairs AS MATERIALIZED (
    SELECT doc_id, p.prev AS prev, p.cur AS cur FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 2 THEN
                   list_transform(generate_series(1, len(t) - 1),
                       i -> {{'prev': t[i], 'cur': t[i + 1]}})
                   ELSE [] END) AS p
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
),
uni AS MATERIALIZED (SELECT term, COUNT(*) AS c1 FROM tok GROUP BY 1),
bi AS MATERIALIZED (
    SELECT prev, cur, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2
),
hist AS MATERIALIZED (SELECT prev, SUM(c2) AS ch FROM bi GROUP BY 1)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-AVG(ln({BIGRAM_LAMBDA} * b.c2 * 1.0 / h.ch
                     + {1.0 - BIGRAM_LAMBDA} * u2.c1
                       / (SELECT SUM(c1) FROM uni))), {ROUND_TO}) AS nll
FROM pairs p
JOIN bi b ON p.prev = b.prev AND p.cur = b.cur
JOIN hist h ON p.prev = h.prev
JOIN uni u2 ON p.cur = u2.term
GROUP BY 1"""
