"""Text analysis over the ``documents`` table — language-ID, quality
scoring, token counting, fingerprinting (north-star extension,
SURVEY.md §2.10; no reference equivalent — the reference is a graph
library).

Everything is built from native Spark SQL expressions (no Python UDFs:
whole-stage codegen + exact DuckDB parity). Tokenization is a plain
single-space split — the synthetic corpus is single-spaced token soup;
swap in a regex tokenizer for real corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..rounding import ROUND_TO
from .hashing import FINGERPRINT_MULT, FINGERPRINT_P

# ---- tokenization (Spark + SQL twins) --------------------------------

def _tokens():
    return F.split(F.col("text"), " ")

DOC_TOK_SQL = """
doc_tok AS MATERIALIZED (
    SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
)"""

DOC_SHINGLES_SQL = """
doc_shingles AS MATERIALIZED (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 3 THEN
                   list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [] END) AS s
        FROM doc_tok
    )
)"""


# 3-token shingles over a pre-bound token array column `t`.
# Tokenizing INSIDE the transform lambda instead —
# Spark evaluates lambda-body subexpressions per iteration, making the
# shingle build O(len^2) per doc. Every consumer binds `t` in a lower
# projection first (multi-referenced non-cheap alias, so
# CollapseProject keeps it) and shingles via this expression.
SHINGLES_T_EXPR = (
    "CASE WHEN size(t) >= 3 THEN "
    "transform(sequence(1, size(t) - 2), "
    "i -> concat_ws(' ', slice(t, i, 3))) "
    "ELSE array() END"
)


def exploded_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, s) — one row per shingle OCCURRENCE, tokens bound once."""
    return docs.select("doc_id", F.split("text", " ").alias("t")).select(
        "doc_id", F.explode(F.expr(SHINGLES_T_EXPR)).alias("s")
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, s) — distinct word-3-gram shingles per document."""
    return exploded_shingles(docs).distinct()


# ---- stats / quality -------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "is")
_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-doc: char count, token counts, type-token ratio, avg token
    length. All integer-exact except the two rounded ratios.
    """
    t = _tokens()
    n_tok = F.size(t)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.round(F.size(F.array_distinct(t)) / n_tok, 6).alias("ttr"),
        F.round(
            F.expr(
                "aggregate(transform(split(text, ' '), x -> length(x)),"
                " 0L, (a, x) -> a + x)"
            )
            / n_tok,
            6,
        ).alias("avg_token_len"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
       ROUND(len(list_distinct(t)) / len(t), 6) AS ttr,
       ROUND(list_aggregate(list_transform(t, x -> length(x)), 'sum')
             / len(t), 6) AS avg_token_len
FROM doc_tok"""


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword count (pieces of ≤4
    chars per token: (len+3) div 4 — integer-exact, portable).
    """
    return docs.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_ws_tokens"),
        F.expr(
            "aggregate(transform(split(text, ' '), x -> (length(x)+3) div 4),"
            " 0L, (a, x) -> a + x)"
        ).alias("n_subword_pieces"),
    )


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_ws_tokens,
       CAST(list_aggregate(list_transform(t, x -> (length(x)+3) // 4), 'sum')
            AS BIGINT) AS n_subword_pieces
FROM doc_tok"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic doc quality: type-token ratio blended with
    stopword-ratio distance; deterministic double arithmetic.
    """
    t = _tokens()
    n_tok = F.size(t)
    n_stop = F.expr(
        f"size(filter(split(text, ' '), x -> x in ({_STOP_IN})))"
    )
    ttr = F.size(F.array_distinct(t)) / n_tok
    stop_ratio = n_stop / n_tok
    return docs.select(
        "doc_id",
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(
            F.lit(0.7) * ttr + F.lit(0.3) * (F.lit(1.0) - stop_ratio), 6
        ).alias("quality"),
    )


QUALITY_SCORE_SQL = f"""
SELECT doc_id,
       ROUND(len(list_distinct(t)) / len(t), 6) AS ttr,
       ROUND(len(list_filter(t, x -> x IN ({_STOP_IN}))) / len(t), 6)
           AS stop_ratio,
       ROUND(0.7 * (len(list_distinct(t)) / len(t))
             + 0.3 * (1.0 - len(list_filter(t, x -> x IN ({_STOP_IN})))
                            / len(t)), 6) AS quality
FROM doc_tok"""


def repetition_ratio(docs: DataFrame) -> DataFrame:
    """Fraction of 3-gram occurrences that repeat an earlier 3-gram in
    the same doc — the Gopher/RefinedWeb-style boilerplate/repetition
    signal ((total − distinct) / total shingles; 0 when < 3 tokens).
    Pure per-row projection: embarrassingly parallel, no shuffle.
    """
    total = F.expr("size(tri)")
    distinct = F.expr("size(array_distinct(tri))")
    return (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.expr(SHINGLES_T_EXPR).alias("tri"))
        .select(
            "doc_id",
            F.when(total > 0, F.round((total - distinct) / total, 6))
            .otherwise(F.lit(0.0))
            .alias("rep_ratio"),
        )
    )


REPETITION_RATIO_SQL = """
SELECT doc_id,
       CASE WHEN len(t) >= 3 THEN
           ROUND((CAST(len(t) - 2 AS DOUBLE)
                  - len(list_distinct(
                      list_transform(generate_series(1, len(t) - 2),
                          i -> array_to_string(list_slice(t, i, i + 2), ' ')))))
                 / (len(t) - 2), 6)
       ELSE 0.0 END AS rep_ratio
FROM doc_tok"""


# ---- language ID -----------------------------------------------------

LANG_MARKERS = {
    "en": ("the", "a", "is", "and", "of"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "les", "et", "des", "un"),
}


def lang_id(spark, docs: DataFrame) -> DataFrame:
    """n-gram-heuristic language ID: count marker-word hits per language,
    argmax with (count DESC, lang ASC) tie-break, 'und' when no marker
    matches (also for NULL and empty text).

    One map-side projection per row: bind the token array once, count
    each language's marker occurrences with ``size(filter(t, ...))``,
    and take the argmax over the per-language counts. No explode, join,
    aggregate or window, so no shuffle at any scale. Exact against the
    DuckDB twin's explode + group by (doc_id, lang) + row_number because
    ``doc_id`` is the key of ``documents`` (unique at every scale factor
    and in every fuzz corpus): per row is per document. ``spark`` is
    unused and kept for the call signature.
    """
    langs = sorted(LANG_MARKERS)  # alphabetical: ties go to the first
    bound = docs.select("doc_id", _tokens().alias("t"))
    # size(NULL) is -1 outside ANSI mode and NULL inside it: coalesce
    # the NULL, and the `<= 0` test below treats -1 as no marker
    counts = bound.select(
        "doc_id",
        *(
            F.coalesce(
                F.size(F.filter("t", lambda x: x.isin(*LANG_MARKERS[lang]))),
                F.lit(0),
            ).alias(f"__n_{lang}")
            for lang in langs
        ),
    )
    best = F.greatest(*(F.col(f"__n_{lang}") for lang in langs))
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"__n_{lang}") == best, F.lit(lang))
    return counts.select("doc_id", pred.alias("pred_lang"))


def lang_id_sql() -> tuple[str, str]:
    """(CTE text, final SELECT) for composition by the registry."""
    values = ", ".join(
        f"('{w}', '{lang}')" for lang, ws in LANG_MARKERS.items() for w in ws
    )
    ctes = f"""
lang_dict AS (SELECT * FROM (VALUES {values}) AS t(word, lang)),
lang_counts AS (
    SELECT tok.doc_id, d.lang, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(t) AS word FROM doc_tok) tok
    JOIN lang_dict d ON tok.word = d.word
    GROUP BY 1, 2
),
lang_best AS (
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, lang ASC) AS rn
        FROM lang_counts
    ) WHERE rn = 1
)"""
    final = """SELECT d.doc_id, COALESCE(b.lang, 'und') AS pred_lang
FROM doc_tok d LEFT JOIN lang_best b ON d.doc_id = b.doc_id"""
    return ctes, final


# ---- fingerprinting --------------------------------------------------

def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive rolling hash over md5-derived token hashes:
    h = (h*31 + h32(tok)) mod 1e9+7 — a left fold, bit-identical in
    both engines (see functions/hashing.py).
    """
    return docs.select(
        "doc_id",
        F.expr(
            "aggregate("
            " transform(split(text, ' '),"
            "   x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint)),"
            f" 0L, (acc, x) -> (acc * {FINGERPRINT_MULT} + x) % {FINGERPRINT_P})"
        ).alias("fingerprint"),
    )


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       -- NULL text → NULL fingerprint (Spark's aggregate over a NULL
       -- array is NULL; without the CASE, list_prepend(0, NULL) folds
       -- to 0 here — a fabricated fingerprint for a missing document)
       CASE WHEN t IS NULL THEN NULL ELSE
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(t,
             x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT))),
         (acc, x) -> (acc * {FINGERPRINT_MULT} + x) % {FINGERPRINT_P})
       END AS fingerprint
FROM doc_tok"""


# ---- corpus-prep pipeline (composite showcase) -----------------------

CORPUS_MIN_QUALITY = 0.55


def corpus_prep(
    spark, docs: DataFrame, min_quality: float = CORPUS_MIN_QUALITY
) -> DataFrame:
    """Training-corpus manifest: quality-filter -> language ID ->
    fingerprint-dedup (keep min doc_id per fingerprint) -> per-doc stats.
    The canonical LLM-data pipeline shape: every stage is a join/agg on
    doc_id or fingerprint, so the whole thing is three shuffles at any
    scale. Returns (doc_id, pred_lang, n_tokens, quality).
    """
    q = quality_score(docs).filter(F.col("quality") >= min_quality)
    lang = lang_id(spark, docs)
    fp = doc_fingerprint(docs)
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_id"))
    kept = fp.join(keep, "fingerprint").filter(F.col("doc_id") == F.col("keep_id"))
    toks = docs.select("doc_id", F.size(_tokens()).cast("long").alias("n_tokens"))
    return (
        q.join(kept.select("doc_id"), "doc_id")
        .join(lang, "doc_id")
        .join(toks, "doc_id")
        .select("doc_id", "pred_lang", "n_tokens", "quality")
    )


def corpus_prep_sql() -> tuple[str, ...]:
    """CTEs + final for the registry (reuses doc_tok/lang CTEs)."""
    quality_cte = f"""cp_quality AS MATERIALIZED (
    SELECT doc_id,
           ROUND(0.7 * (len(list_distinct(t)) / len(t))
                 + 0.3 * (1.0 - len(list_filter(t, x -> x IN ({_STOP_IN})))
                                / len(t)), 6) AS quality
    FROM doc_tok
)"""
    fp_cte = f"""cp_fp AS MATERIALIZED (
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(t,
                 x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT))),
             (acc, x) -> (acc * {FINGERPRINT_MULT} + x) % {FINGERPRINT_P})
           AS fingerprint
    FROM doc_tok
)"""
    keep_cte = """cp_keep AS MATERIALIZED (
    SELECT doc_id FROM cp_fp f
    JOIN (SELECT fingerprint, MIN(doc_id) AS keep_id FROM cp_fp GROUP BY 1) m
      ON f.fingerprint = m.fingerprint AND f.doc_id = m.keep_id
)"""
    final = f"""SELECT q.doc_id, COALESCE(b.lang, 'und') AS pred_lang,
       CAST(len(d.t) AS BIGINT) AS n_tokens, q.quality
FROM cp_quality q
JOIN cp_keep k ON q.doc_id = k.doc_id
JOIN doc_tok d ON q.doc_id = d.doc_id
LEFT JOIN lang_best b ON q.doc_id = b.doc_id
WHERE q.quality >= {CORPUS_MIN_QUALITY!r}"""
    return quality_cte, fp_cte, keep_cte, final


# ---- boilerplate detection (cross-document repetition) ----------------

BOILER_MIN_DF = 5      # a shingle in ≥ this many docs is boilerplate
BOILER_FRAC = 0.5      # flag docs whose shingle set is ≥ this much boilerplate


def boilerplate_flags(docs: DataFrame, min_df: int = BOILER_MIN_DF) -> DataFrame:
    """(doc_id, n_shingles, n_boiler, boiler_frac, flagged) — the
    boilerplate-removal step of corpus cleaning: a shingle occurring in
    ≥ ``min_df`` distinct documents is template text (headers, nav,
    license blurbs), and a document mostly made of such shingles is
    flagged. Docs shorter than one shingle are absent (no signal).

    Scale shape: the same inverted-index pattern as the contamination
    check — distinct (doc_id, shingle) explode, a vocabulary-bounded
    document-frequency agg, one equi-join back, one per-doc agg. Hot
    shingles are exactly the boilerplate being measured; AQE skew-join
    splits them, and the df table is |vocab|, not |corpus|.
    """
    from pyspark.sql import Window

    # document frequency as count-over-window keyed on the shingle: ONE
    # pass over the exploded frame (the groupBy-df + join-back variant
    # re-runs the whole scan+explode+distinct pipeline twice — measured
    # 10 exchanges vs 3 here)
    sh = doc_shingles(docs).withColumn(
        "df", F.count("*").over(Window.partitionBy("s"))
    )
    per_doc = sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0))
        .cast("long")
        .alias("n_boiler"),
    )
    bf = F.col("n_boiler") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.round(bf, 6).alias("boiler_frac"),
        (bf >= BOILER_FRAC).alias("flagged"),
    )


def boilerplate_sql() -> str:
    """DuckDB twin (composes after DOC_TOK_SQL + DOC_SHINGLES_SQL)."""
    return f"""SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.df >= {BOILER_MIN_DF} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       ROUND(SUM(CASE WHEN f.df >= {BOILER_MIN_DF} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS boiler_frac,
       (SUM(CASE WHEN f.df >= {BOILER_MIN_DF} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE)) >= {BOILER_FRAC!r} AS flagged
FROM doc_shingles d
JOIN (SELECT s, CAST(COUNT(*) AS BIGINT) AS df
      FROM doc_shingles GROUP BY 1) f ON d.s = f.s
GROUP BY doc_id"""


# ---- document chunking (context-window preparation) ------------------

CHUNK_TOKENS = 64  # window size
CHUNK_STRIDE = 48  # start-to-start distance → 16-token overlap
# a stride above the window would skip tokens, breaking the
# every-token-covered guarantee
assert 1 <= CHUNK_STRIDE <= CHUNK_TOKENS
CHUNK_OVERLAP = CHUNK_TOKENS - CHUNK_STRIDE


def chunk_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_fp) — fixed-size token
    windows with overlap, the context-window prep step of a pretraining
    / RAG pipeline. Window starts are 1, 1+CHUNK_STRIDE, … while
    start ≤ max(n_tokens - CHUNK_OVERLAP, 1), so every token is covered, the
    final window may run short, and no window is a suffix-subset of its
    predecessor. ``chunk_fp`` is the same engine-portable rolling hash
    as ``doc_fingerprint`` over just the window's tokens, so chunks can
    feed the exact-dedup / contamination joins downstream without
    carrying text.

    Scale shape: pure per-row expressions (split → windowed slices →
    posexplode) — a map-side chunker with NO shuffle; output rows ≈
    input tokens / stride regardless of document skew, since a huge
    document fans out inside its own partition.
    """
    # NULL text → no chunks (a phantom chunk with a NULL fingerprint
    # would otherwise be emitted: greatest() skips the NULL size and
    # sequence(1,1) yields one window over a NULL token array; the twin
    # drops the doc because generate_series(1, NULL) unnests to nothing)
    toks = docs.select("doc_id", _tokens().alias("t")).where(
        F.col("t").isNotNull()
    )
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {CHUNK_OVERLAP}, 1),"
                f" {CHUNK_STRIDE}), s -> slice(t, s, {CHUNK_TOKENS}))"
            )
        ).alias("chunk_idx", "ctoks"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("ctoks").cast("long").alias("n_tokens"),
        F.expr(
            "aggregate("
            " transform(ctoks,"
            "   x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint)),"
            f" 0L, (acc, x) -> (acc * {FINGERPRINT_MULT} + x) % {FINGERPRINT_P})"
        ).alias("chunk_fp"),
    )


def chunk_documents_sql() -> str:
    """DuckDB twin (composes after DOC_TOK_SQL); generate_series is
    inclusive and list_slice takes begin/end, both 1-based like Spark's
    sequence/slice."""
    return f"""SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(ctoks) AS BIGINT) AS n_tokens,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(ctoks,
             x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT))),
         (acc, x) -> (acc * {FINGERPRINT_MULT} + x) % {FINGERPRINT_P})
       AS chunk_fp
FROM (
    SELECT doc_id, s,
           list_slice(t, s, s + {CHUNK_TOKENS} - 1) AS ctoks
    -- NULL text → no chunks (mirrors the Spark-side filter; DuckDB's
    -- greatest() skips the NULL length and would emit a phantom window)
    FROM doc_tok,
         UNNEST(generate_series(1, greatest(len(t) - {CHUNK_OVERLAP}, 1),
                                {CHUNK_STRIDE})) AS u(s)
    WHERE t IS NOT NULL
)"""


# ---- deterministic stratified sampling -------------------------------

SAMPLE_KNUTH_MULT = 2654435761  # Knuth multiplicative hash
SAMPLE_MOD = 4294967296
# Fold ids into [0, 2^31) BEFORE the multiply: (2^31-1)·2654435761 ≈
# 5.7e18 < 2^63, so the hash never overflows int64 for ANY 64-bit id
# (snowflake-style ids near 2^63, negative ids). Without the fold,
# doc_id·K overflows for ids ≥ ~3.5e9 — ANSI Spark raises, DuckDB
# errors: the sampler would crash on real-world id spaces. Folding is
# id-distribution-neutral for sequential ids and keeps the identical
# value on both engines (positive mod on both sides).
SAMPLE_FOLD = 2147483648


def _folded_id():
    return F.pmod(F.col("doc_id"), F.lit(SAMPLE_FOLD))


def _folded_id_sql() -> str:
    return f"((doc_id % {SAMPLE_FOLD}) + {SAMPLE_FOLD}) % {SAMPLE_FOLD}"

# per-stratum keep rates out of 100 (training mixes oversample target langs)
SAMPLE_RATE_EN = 30
SAMPLE_RATE_OTHER = 10


def stratified_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, lang) — deterministic per-language sample: keep a doc iff
    ``((doc_id * K) mod 2^32) mod 100`` falls under its stratum's rate.

    Pure arithmetic on the key (no RNG, no engine hash function) so the
    identical predicate runs on any engine and re-runs are stable — the
    property a 100 TB pipeline needs for resumable sampling. Evaluated
    map-side: a scan + filter, no shuffle at all.
    """
    bucket = ((_folded_id() * SAMPLE_KNUTH_MULT) % SAMPLE_MOD) % 100
    rate = F.when(F.col("lang") == "en", SAMPLE_RATE_EN).otherwise(
        SAMPLE_RATE_OTHER
    )
    return (
        docs.where(bucket < rate).select("doc_id", "lang").orderBy("doc_id")
    )


STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE (({_folded_id_sql()} * {SAMPLE_KNUTH_MULT}) % {SAMPLE_MOD}) % 100 <
      CASE WHEN lang = 'en' THEN {SAMPLE_RATE_EN} ELSE {SAMPLE_RATE_OTHER} END
ORDER BY doc_id"""


# ---- per-source quota sampling ---------------------------------------

SOURCE_QUOTA = 15  # binds on the uniform 25-docs/source testdata


def source_quota_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, source) — cap each source (domain/crawl feed) at
    ``SOURCE_QUOTA`` documents, keeping a deterministic uniform subset: docs
    rank within their source by the same Knuth multiplicative hash as
    ``stratified_sample`` (id-stable, engine-portable), so re-runs and
    incremental refreshes keep the SAME representatives. This is the
    per-domain quota step that stops a handful of giant domains from
    dominating a training mix.

    Scale: one hash-partitioned window per source. For web-scale skew
    (one source ≫ quota) pre-filter with a per-source hash THRESHOLD
    (quota / approx count) so only ~quota survivors reach the exact
    rank — the window then sorts bounded groups, never the raw domain.
    """
    from pyspark.sql import Window

    order = (_folded_id() * SAMPLE_KNUTH_MULT) % SAMPLE_MOD
    w = Window.partitionBy("source").orderBy(order.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_QUOTA)
        .select("doc_id", "source")
    )


def source_quota_sql() -> str:
    return f"""SELECT doc_id, source FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ({_folded_id_sql()} * {SAMPLE_KNUTH_MULT})
                        % {SAMPLE_MOD}, doc_id
           ) AS rn
    FROM documents
) WHERE rn <= {SOURCE_QUOTA}"""


# ---- PII scrub -------------------------------------------------------

# Common-subset regexes (Java regex on Spark, RE2 on DuckDB): no
# lookaround, no shorthand classes beyond [0-9a-z].
EMAIL_RE = "[a-z0-9._]+@[a-z0-9-]+\\.[a-z]+"
PHONE_RE = "555-[0-9]{4}"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, scrubbed_fp, scrubbed_len) —
    detect-and-redact pipeline over text. The corpus is synthetic
    word-salad with no real PII, so the query deterministically injects
    an email for ``doc_id % 3 != 0`` and a phone for ``doc_id % 5 != 0``
    before scrubbing — exercising detection counts, global replacement,
    and a post-scrub fingerprint with non-trivial expected values.

    All column expressions (regexp_count / regexp_replace / md5) — pure
    codegen, no Python, one scan, no shuffle.
    """
    email = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.lit(" reach u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 5 != 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    aug = F.concat(F.col("text"), email, phone)
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(aug, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_fp"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = f"""
WITH aug AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 <> 0
                THEN ' reach u' || doc_id || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 5 <> 0
                THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END AS t
    FROM documents
),
scrubbed AS (
    SELECT doc_id, t,
           regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS s
    FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(s) AS scrubbed_fp,
       CAST(length(s) AS BIGINT) AS scrubbed_len
FROM scrubbed
ORDER BY doc_id"""


# ---- vocabulary heavy hitters ----------------------------------------


def top_shingles(docs: DataFrame, k: int = 20) -> DataFrame:
    """(s, n_docs) — the k most document-frequent word-3-gram shingles
    (corpus vocabulary heavy hitters; deterministic tie-break on the
    shingle text). Exact count via one hash agg over the distinct
    (doc, shingle) frame; at 100 TB swap in a count-min sketch or a
    two-level (partial top-k per partition, merge) plan — the exact agg
    is the oracle anchor."""
    sh = exploded_shingles(docs).distinct()
    return (
        sh.groupBy("s")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("s"))
        .limit(k)
    )


def top_shingles_sql(k: int = 20) -> str:
    return f"""SELECT s, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM doc_shingles
GROUP BY 1
ORDER BY n_docs DESC, s ASC
LIMIT {k}"""


# ---- PMI collocations (phrase mining / tokenizer prep) ----------------

PMI_MIN_PAIR = 5   # ignore bigrams rarer than this (PMI is noise there)
PMI_TOP_K = 50


def collocations_pmi(docs: DataFrame, min_pair: int = PMI_MIN_PAIR) -> DataFrame:
    """(w1, w2, n_pair, pmi) — top-k adjacent-token collocations by
    pointwise mutual information ln(p(w1,w2)/(p(w1)p(w2))): the phrase
    candidates a tokenizer/vocab builder promotes to merges. Rank is on
    the ROUNDED pmi with (w1, w2) tie-break, so the top-k cut is
    deterministic across engines.

    Scale shape: one token explode and one bigram explode over the
    corpus (map-side), then vocabulary-bounded hash aggs; the two
    global totals broadcast as literals into the final projection —
    no corpus-sized join anywhere.
    """
    toks = docs.select(_tokens().alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN sequence(1, size(t) - 1) "
                    "ELSE array() END"
                )
            ).alias("i"),
            "t",
        )
        .select(
            F.expr("element_at(t, i)").alias("w1"),
            F.expr("element_at(t, i + 1)").alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
    )
    # two scalar totals in one pass (an eager scalar job, not a data
    # collect — the totals then fold into the projection as literals)
    n_tok, n_pairs = toks.agg(
        F.sum(F.size("t")), F.sum(F.greatest(F.size("t") - 1, F.lit(0)))
    ).collect()[0]
    pmi = F.round(
        F.log(
            (F.col("n_pair") / F.lit(float(n_pairs)))
            / (
                (F.col("c1") / F.lit(float(n_tok)))
                * (F.col("c2") / F.lit(float(n_tok)))
            )
        ),
        6,
    )
    scored = (
        pairs.join(uni, pairs["w1"] == uni["w"])
        .drop("w")
        .join(
            uni.select(F.col("w").alias("w2k"), F.col("c1").alias("c2")),
            F.col("w2") == F.col("w2k"),
        )
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOP_K)


def collocations_sql() -> str:
    """DuckDB twin (composes after DOC_TOK_SQL)."""
    return f"""SELECT w1, w2, n_pair,
       ROUND(ln((n_pair / (SELECT SUM(len(t) - 1) FROM doc_tok WHERE len(t) >= 2)::DOUBLE)
                / ((c1 / (SELECT SUM(len(t)) FROM doc_tok)::DOUBLE)
                   * (c2 / (SELECT SUM(len(t)) FROM doc_tok)::DOUBLE))), 6) AS pmi
FROM (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM (SELECT t[i] AS w1, t[i + 1] AS w2
          FROM doc_tok, UNNEST(generate_series(1, len(t) - 1)) AS g(i))
    GROUP BY 1, 2 HAVING COUNT(*) >= {PMI_MIN_PAIR}
) p
JOIN (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM
      (SELECT unnest(t) AS w FROM doc_tok) GROUP BY 1) u1 ON p.w1 = u1.w
JOIN (SELECT w AS wb, CAST(COUNT(*) AS BIGINT) AS c2 FROM
      (SELECT unnest(t) AS w FROM doc_tok) GROUP BY 1) u2 ON p.w2 = u2.wb
ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP_K}"""


# ---- quality filter suite (Gopher/C4-style rules) --------------------
#
# Multi-rule document filtering in the style of Gopher (Rae et al. 2021,
# table A1) and C4 (Raffel et al. 2020): each rule is a named boolean
# column and `keep` is their conjunction, so downstream pipelines can
# audit WHY a document was dropped, re-weight individual rules, or
# aggregate violation rates per source. Every rule is a pure per-row
# column expression — embarrassingly parallel, no shuffle, fully inside
# whole-stage codegen; at 100 TB this is a single scan at parquet read
# speed. Thresholds are module constants so the suite is tunable; the
# comparisons are on integer-derived doubles computed identically in
# Spark and DuckDB (sum-of-ints / int), so the oracle match is exact,
# not rounding-dependent.

QF_MIN_TOKENS = 20
QF_MAX_TOKENS = 5000
QF_MIN_MEAN_WORD_LEN = 2.0
QF_MAX_MEAN_WORD_LEN = 10.0
QF_MAX_WORD_LEN = 20
QF_MIN_STOPWORDS = 2
QF_MIN_TTR = 0.2
QF_MAX_REP = 0.3
QF_MIN_ALPHA_FRAC = 0.8


# Tokenize-once base projection for the filter suite. The naive
# formulation embeds split(text) inside every rule AND inside the
# 3-gram lambda body — Spark evaluates lambda-body subexpressions per
# loop iteration, making the shingle rule O(len^2) per doc and the
# whole suite ~30x slower (measured 9.7s -> 0.3s at sf0.1). Binding
# `t` and `tri` as multi-referenced non-cheap aliases in a LOWER
# projection defeats CollapseProject, so each is computed exactly once
# per row.
_QF_TRI_OVER_T = SHINGLES_T_EXPR


def _qf_spark_flags() -> dict[str, str]:
    """Named rule → Spark SQL boolean expression (True = VIOLATED),
    over pre-bound columns ``t`` (token array) and ``tri`` (3-gram
    array)."""
    n = "size(t)"
    lens = "transform(t, x -> length(x))"
    mean_len = f"aggregate({lens}, 0L, (a, x) -> a + x) / {n}"
    stop_occ = f"size(filter(t, x -> x in ({_STOP_IN})))"
    ttr = f"size(array_distinct(t)) / {n}"
    rep = (
        f"CASE WHEN {n} >= 3 THEN "
        f"(size(tri) - size(array_distinct(tri)))"
        f" / CAST(size(tri) AS DOUBLE) ELSE 0.0 END"
    )
    alpha = f"size(filter(t, x -> x rlike '[a-z]')) / {n}"
    return {
        "f_too_short": f"{n} < {QF_MIN_TOKENS}",
        "f_too_long": f"{n} > {QF_MAX_TOKENS}",
        "f_mean_word_len": (
            f"({mean_len}) < {QF_MIN_MEAN_WORD_LEN}"
            f" OR ({mean_len}) > {QF_MAX_MEAN_WORD_LEN}"
        ),
        "f_long_word": (
            f"array_max(transform(t, x -> length(x))) > {QF_MAX_WORD_LEN}"
        ),
        "f_low_stopword": f"{stop_occ} < {QF_MIN_STOPWORDS}",
        "f_low_ttr": f"({ttr}) < {QF_MIN_TTR}",
        "f_repetitive": f"({rep}) > {QF_MAX_REP}",
        "f_nonalpha": f"({alpha}) < {QF_MIN_ALPHA_FRAC}",
    }


def qf_keep_expr_spark() -> str:
    """`keep` conjunction as one Spark SQL expression (shared by
    ``quality_filters`` and ``corpus_report``)."""
    return " AND ".join(f"NOT ({e})" for e in _qf_spark_flags().values())


def _qf_bound(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Lower projection binding `t` (tokens) and `tri` (3-grams over
    t) once per row — see the CollapseProject note above."""
    with_t = docs.select(*extra, "doc_id", _tokens().alias("t"))
    return with_t.select(
        *extra, "doc_id", "t", F.expr(_QF_TRI_OVER_T).alias("tri")
    )


def quality_filters(docs: DataFrame) -> DataFrame:
    """Per-doc named rule flags (True = rule VIOLATED) + `keep`.

    Three stacked projections: bind t -> bind tri over t -> rules over
    (t, tri), with `keep` folded over the rule COLUMNS in a final
    projection (boolean references are cheap, so that one collapses)."""
    flags = _qf_spark_flags()
    cols = [F.expr(e).alias(name) for name, e in flags.items()]
    flagged = _qf_bound(docs).select("doc_id", *cols)
    keep = F.expr(" AND ".join(f"NOT {name}" for name in flags))
    return flagged.select("*", keep.alias("keep"))


def _qf_sql_flags() -> dict[str, str]:
    """Named rule → DuckDB boolean expression over doc_tok's `t`."""
    n = "len(t)"
    mean_len = f"list_aggregate(list_transform(t, x -> length(x)), 'sum') / {n}"
    stop_occ = f"len(list_filter(t, x -> x IN ({_STOP_IN})))"
    ttr = f"len(list_distinct(t)) / {n}"
    tri = (
        "list_transform(generate_series(1, len(t) - 2),"
        " i -> array_to_string(list_slice(t, i, i + 2), ' '))"
    )
    rep = (
        f"CASE WHEN {n} >= 3 THEN "
        f"(len({tri}) - len(list_distinct({tri})))"
        f" / CAST(len({tri}) AS DOUBLE) ELSE 0.0 END"
    )
    alpha = f"len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) / {n}"
    return {
        "f_too_short": f"{n} < {QF_MIN_TOKENS}",
        "f_too_long": f"{n} > {QF_MAX_TOKENS}",
        "f_mean_word_len": (
            f"({mean_len}) < {QF_MIN_MEAN_WORD_LEN}"
            f" OR ({mean_len}) > {QF_MAX_MEAN_WORD_LEN}"
        ),
        "f_long_word": (
            f"list_max(list_transform(t, x -> length(x))) > {QF_MAX_WORD_LEN}"
        ),
        "f_low_stopword": f"{stop_occ} < {QF_MIN_STOPWORDS}",
        "f_low_ttr": f"({ttr}) < {QF_MIN_TTR}",
        "f_repetitive": f"({rep}) > {QF_MAX_REP}",
        "f_nonalpha": f"({alpha}) < {QF_MIN_ALPHA_FRAC}",
    }


def qf_keep_expr_sql() -> str:
    return " AND ".join(f"NOT ({e})" for e in _qf_sql_flags().values())


def quality_filters_sql() -> str:
    """DuckDB twin (composes after DOC_TOK_SQL)."""
    flags = _qf_sql_flags()
    cols = ",\n       ".join(f"{e} AS {name}" for name, e in flags.items())
    return (
        f"SELECT doc_id,\n       {cols},\n"
        f"       {qf_keep_expr_sql()} AS keep\nFROM doc_tok"
    )


# ---- skip-gram training pairs ----------------------------------------
#
# word2vec-style (center, context) pair extraction — the map stage of a
# skip-gram training-data pipeline. Forward-directed pairs within a
# ±SKIPGRAM_WINDOW token window, generated entirely map-side as a
# per-row nested-list expression (no self-join, no shuffle until the
# final vocabulary-bounded count). At 100 TB the explode output is
# ~window × corpus tokens, all map-local; the only exchange is the
# groupBy on a vocabulary² -bounded key space.

SKIPGRAM_WINDOW = 3
SKIPGRAM_TOP_K = 100


def skipgram_pairs(docs: DataFrame) -> DataFrame:
    # bind the token array in a lower projection: split() inside the
    # nested lambda would be re-evaluated per (i, j) pair (O(len^2)
    # per doc; measured 8.5s -> ~0.5s at sf0.1)
    pairs = (
        "CASE WHEN size(t) >= 2 THEN "
        "flatten(transform(sequence(1, size(t) - 1), "
        f"i -> transform(sequence(i + 1, least(i + {SKIPGRAM_WINDOW}, size(t))), "
        "j -> struct(element_at(t, i) AS w1, element_at(t, j) AS w2)))) "
        "ELSE array() END"
    )
    return (
        docs.select(_tokens().alias("t"))
        .select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "w1", "w2")
        .limit(SKIPGRAM_TOP_K)
    )


def skipgram_sql() -> str:
    """DuckDB twin (composes after DOC_TOK_SQL)."""
    return f"""SELECT sub.p.w1 AS w1, sub.p.w2 AS w2,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (
    SELECT unnest(flatten(list_transform(
        generate_series(1, len(t) - 1),
        i -> list_transform(
            generate_series(i + 1, least(i + {SKIPGRAM_WINDOW}, len(t))),
            j -> {{'w1': t[i], 'w2': t[j]}})))) AS p
    FROM doc_tok WHERE len(t) >= 2
) sub GROUP BY 1, 2
ORDER BY n_pairs DESC, w1, w2 LIMIT {SKIPGRAM_TOP_K}"""


# ---- Zipf fit --------------------------------------------------------


def rank_desc_scale_safe(df: DataFrame, val: str, tie: str) -> DataFrame:
    """Scale-safe equivalent of ``ROW_NUMBER() OVER (ORDER BY val DESC,
    tie ASC)`` as column ``r``: rank = (#rows with strictly greater
    ``val``, read off the count-of-counts histogram) + row_number within
    the ``val`` tie-group. A naive global row_number moves the ENTIRE
    frame to one partition (Spark's WindowExec warns exactly this); here
    the only unpartitioned window runs over the histogram of distinct
    ``val`` values — for the power-law frequency/degree tables this
    ranks, that is orders of magnitude below the row count — and the
    tie-break window is partitioned by ``val``, so the data-sized pass
    stays parallel. Rank values are bit-identical to the naive form.
    """
    from pyspark.sql import Window

    hist = df.groupBy(val).agg(F.count("*").alias("_n"))
    w_h = Window.orderBy(F.desc(val)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = hist.select(
        val, F.coalesce(F.sum("_n").over(w_h), F.lit(0)).alias("_off")
    )
    w_t = Window.partitionBy(val).orderBy(F.asc(tie))
    return (
        df.join(F.broadcast(offs), val)
        .withColumn("r", F.col("_off") + F.row_number().over(w_t))
        .drop("_off")
    )


def zipf_slope(docs: DataFrame) -> DataFrame:
    """Corpus token-frequency power-law probe: OLS slope of ln(freq)
    vs ln(rank) over the ranked vocabulary (Zipf's law predicts ≈ −1
    for natural text; strong deviation flags synthetic/degenerate
    corpora). The vocabulary agg is the only data-sized shuffle; ranks
    come from ``rank_desc_scale_safe`` (histogram offset + partitioned
    tie-break — no single-partition window over the vocabulary), and
    the regression is one tiny aggregate over |vocab| rows.
    """
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    ranked = rank_desc_scale_safe(counts, "c", "term")
    return ranked.agg(
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.expr("regr_slope(ln(c), ln(r))"), 6
        ).alias("zipf_slope"),
    )


ZIPF_SLOPE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(regr_slope(ln(c), ln(r)), 6) AS zipf_slope
FROM (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS r
    FROM (
        SELECT term, COUNT(*) AS c
        FROM (SELECT unnest(t) AS term FROM doc_tok)
        GROUP BY 1
    )
)"""


# ---- domain mixture weights ------------------------------------------
#
# Pretraining data-mixing: per-source token inventory + the sampling
# rate that moves the corpus toward a uniform target mixture (the
# degenerate-but-canonical target; swap the target vector for tuned
# weights in production). rate = min(1, target_share / natural_share).
# One groupBy on source (bounded key space) + a 1-row scalar aggregate
# broadcast back — no data-sized collect, no second scan.


def mixture_weights(docs: DataFrame) -> DataFrame:
    per = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(_tokens())).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("__t"), F.count("*").alias("__s")
    )
    share = F.col("n_tokens") / F.col("__t")
    target = F.lit(1.0) / F.col("__s")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, ROUND_TO).alias("natural_share"),
            F.round(target, ROUND_TO).alias("target_share"),
            F.round(
                F.least(F.lit(1.0), target / share), ROUND_TO
            ).alias("sample_rate"),
        )
    )


def mixture_weights_sql() -> str:
    """DuckDB twin (composes after DOC_TOK_SQL)."""
    return f"""SELECT source, n_docs, n_tokens,
       ROUND(n_tokens / __t, {ROUND_TO}) AS natural_share,
       ROUND(1.0 / __s, {ROUND_TO}) AS target_share,
       ROUND(LEAST(1.0, (1.0 / __s) / (n_tokens / __t)), {ROUND_TO})
           AS sample_rate
FROM (
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS n_tokens
    FROM doc_tok dt JOIN documents d USING (doc_id)
    GROUP BY 1
) per
CROSS JOIN (
    -- __s counts share GROUPS: a NULL source is a real bucket with its
    -- own output row, so it belongs in the 1/n target denominator
    -- (COUNT(DISTINCT) alone would skip it — Spark counts groups)
    SELECT SUM(len(t))::DOUBLE AS __t,
           COUNT(DISTINCT source)
             + MAX(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS __s
    FROM doc_tok dt2 JOIN documents d2 USING (doc_id)
) tot"""


# ---- token-budget selection ------------------------------------------
#
# "Best docs until the token budget runs out": rank by quality, keep
# the prefix whose cumulative token count fits TOKEN_BUDGET. The naive
# plan (global sort + running sum) funnels the corpus through one
# partition; the scale shape used here aggregates per quality LEVEL
# first (quality is rounded to 1e-6, so the level table is bounded at
# ~1e6 rows regardless of corpus size), runs the cumulative window on
# that small frame, and joins the two resulting scalars back:
# whole levels above the boundary are kept outright map-side, and only
# the single boundary level pays a per-doc running sum (window over
# that one level's docs).

TOKEN_BUDGET = 10_000


def token_budget_select(docs: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """(doc_id, quality, n_tokens) of the selected docs."""
    from pyspark.sql import Window

    scored = docs.select("doc_id", _tokens().alias("t")).select(
        "doc_id",
        F.expr("size(t)").cast("long").alias("n_tokens"),
        F.round(
            F.lit(0.7)
            * (F.expr("size(array_distinct(t))") / F.expr("size(t)"))
            + F.lit(0.3)
            * (
                F.lit(1.0)
                - F.expr(f"size(filter(t, x -> x in ({_STOP_IN})))")
                / F.expr("size(t)")
            ),
            ROUND_TO,
        ).alias("quality"),
    )
    levels = scored.groupBy("quality").agg(
        F.sum("n_tokens").alias("lvl_tokens")
    )
    w = Window.orderBy(F.desc("quality")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lv = levels.select(
        "quality",
        (F.sum("lvl_tokens").over(w) - F.col("lvl_tokens")).alias("prev_cum"),
        F.sum("lvl_tokens").over(w).alias("cum"),
    )
    full = lv.filter(F.col("cum") <= budget).select("quality")
    boundary = lv.filter(
        (F.col("cum") > budget) & (F.col("prev_cum") < budget)
    ).select("quality", "prev_cum")
    kept_full = scored.join(F.broadcast(full), "quality", "left_semi")
    wb = Window.partitionBy("quality").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    kept_boundary = (
        scored.join(F.broadcast(boundary), "quality")
        .withColumn("run", F.sum("n_tokens").over(wb))
        .filter(F.col("prev_cum") + F.col("run") <= budget)
        .select("doc_id", "n_tokens", "quality")
    )
    return kept_full.select("doc_id", "n_tokens", "quality").unionByName(
        kept_boundary
    )


def token_budget_sql(src_cte: str = "doc_tok", prefix: str = "") -> tuple[str, str]:
    """(CTE text, final SELECT) — DuckDB twin. ``src_cte`` must expose
    (doc_id, t); ``prefix`` namespaces the internal CTEs so the block
    can be embedded in larger chains (pretrain funnel)."""
    ctes = f"""{prefix}scored AS MATERIALIZED (
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           ROUND(0.7 * (len(list_distinct(t)) / len(t))
                 + 0.3 * (1.0 - len(list_filter(t, x -> x IN ({_STOP_IN})))
                                / len(t)), {ROUND_TO}) AS quality
    FROM {src_cte}
),
{prefix}lv AS MATERIALIZED (
    SELECT quality,
           SUM(lvl_tokens) OVER (ORDER BY quality DESC) - lvl_tokens
               AS prev_cum,
           SUM(lvl_tokens) OVER (ORDER BY quality DESC) AS cum
    FROM (SELECT quality, SUM(n_tokens) AS lvl_tokens
          FROM {prefix}scored GROUP BY 1)
)"""
    final = f"""SELECT s.doc_id, s.n_tokens, s.quality
FROM {prefix}scored s JOIN {prefix}lv lv ON s.quality = lv.quality
WHERE lv.cum <= {TOKEN_BUDGET}
UNION ALL
SELECT doc_id, n_tokens, quality FROM (
    SELECT s.doc_id, s.n_tokens, s.quality,
           lv.prev_cum
               + SUM(s.n_tokens) OVER (
                   PARTITION BY s.quality ORDER BY s.doc_id) AS run_tot
    FROM {prefix}scored s JOIN {prefix}lv lv ON s.quality = lv.quality
    WHERE lv.cum > {TOKEN_BUDGET} AND lv.prev_cum < {TOKEN_BUDGET}
)
WHERE run_tot <= {TOKEN_BUDGET}"""
    return ctes, final


# ---- corpus report ---------------------------------------------------
#
# The "dataset card" rollup: per (source, lang) — docs, tokens, mean
# quality, quality-filter keep rate. All signals are computed in ONE
# map-side projection (no per-signal joins), then a single bounded
# groupBy. This is the shape of a 100 TB corpus health dashboard: one
# scan, one small exchange.


def corpus_report(docs: DataFrame) -> DataFrame:
    n_tok = F.expr("size(t)")
    quality = F.lit(0.7) * (
        F.expr("size(array_distinct(t))") / n_tok
    ) + F.lit(0.3) * (
        F.lit(1.0)
        - F.expr(f"size(filter(t, x -> x in ({_STOP_IN})))") / n_tok
    )
    keep = F.expr(qf_keep_expr_spark())
    per_doc = _qf_bound(docs, extra=("source", "lang")).select(
        "source",
        "lang",
        n_tok.alias("n_tok"),
        quality.alias("q"),
        keep.cast("int").alias("k"),
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.round(F.avg("q"), ROUND_TO).alias("mean_quality"),
        F.round(F.avg("k"), ROUND_TO).alias("keep_rate"),
    )


def corpus_report_sql() -> str:
    """DuckDB twin (composes after DOC_TOK_SQL; joins back to documents
    for source/lang)."""
    return f"""SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
       ROUND(AVG(0.7 * (len(list_distinct(t)) / len(t))
                 + 0.3 * (1.0 - len(list_filter(t, x -> x IN ({_STOP_IN})))
                                / len(t))), {ROUND_TO}) AS mean_quality,
       ROUND(AVG(CAST({qf_keep_expr_sql()} AS INT)), {ROUND_TO})
           AS keep_rate
FROM doc_tok dt JOIN documents d USING (doc_id)
GROUP BY 1, 2"""


# ---- pretraining data-prep funnel ------------------------------------
#
# The end-to-end corpus funnel as ONE query: raw -> quality-filtered ->
# exact-deduped -> token-budget-selected, reporting survivor doc/token
# counts at every stage — the audit table a data-prep run publishes
# alongside its output. Composes the already-oracle-checked stages
# (quality_filters, exact dedup keep-min, token_budget_select), so the
# funnel's DuckDB twin is the same CTE chain; each stage is one scan +
# bounded aggregation, no new scale shapes.


def pretrain_funnel(docs_with_dups: DataFrame) -> DataFrame:
    """(stage, name, n_docs, n_tokens) — 4 rows, ordered by stage."""
    def _stats(df, stage, name):
        return df.agg(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(name).alias("name"),
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size(F.split("text", " "))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )

    raw = docs_with_dups.select("doc_id", "text")
    qkeep = quality_filters(raw).filter("keep").select("doc_id")
    # materialize each stage once: the budget selection alone re-derives
    # its input three times (scored, level CDF, boundary window), and
    # every stage's stats re-read it — at scale a funnel materializes
    # stage outputs anyway (they ARE the pipeline's intermediate
    # datasets). localCheckpoint stands in for the stage sink here.
    kept = raw.join(qkeep, "doc_id", "left_semi").localCheckpoint(eager=True)
    reps = kept.groupBy("text").agg(F.min("doc_id").alias("__m"))
    deduped = (
        kept.join(reps, "text")
        .filter(F.col("doc_id") == F.col("__m"))
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    sel = token_budget_select(deduped, TOKEN_BUDGET)
    sel_stats = sel.agg(
        F.lit(3).cast("long").alias("stage"),
        F.lit("budget").alias("name"),
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return (
        _stats(raw, 0, "raw")
        .unionByName(_stats(kept, 1, "quality"))
        .unionByName(_stats(deduped, 2, "dedup"))
        .unionByName(sel_stats)
        .orderBy("stage")
    )


def pretrain_funnel_sql() -> tuple[str, ...]:
    """CTE chain + final SELECT — composes after DD_SQL."""
    budget_ctes, budget_final = token_budget_sql(src_cte="pf_dedup", prefix="pf_")
    keep = qf_keep_expr_sql()
    ctes = (
        f"""pf_keep AS MATERIALIZED (
    SELECT doc_id, text, t FROM (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM dd
    ) WHERE {keep}
)""",
        """pf_dedup AS MATERIALIZED (
    SELECT d.doc_id, d.text, d.t
    FROM pf_keep d
    JOIN (SELECT text, MIN(doc_id) AS m FROM pf_keep GROUP BY 1) mm
      ON d.text = mm.text AND d.doc_id = mm.m
)""",
        budget_ctes,
    )
    final = f"""SELECT * FROM (
SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS name,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT)
           AS n_tokens
FROM dd
UNION ALL
SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(len(t)), 0) AS BIGINT)
FROM pf_keep
UNION ALL
SELECT 2, 'dedup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(len(t)), 0) AS BIGINT)
FROM pf_dedup
UNION ALL
SELECT 3, 'budget', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT)
FROM ({budget_final})
) ORDER BY stage"""
    return (*ctes, final)


# ---- vocabulary coverage ---------------------------------------------
#
# The tokenizer-design feedback loop: fit a frequency top-V vocabulary
# on the corpus, then report each source's out-of-vocabulary token rate
# against it. Scale shape: token occurrences are one map-side explode;
# the vocabulary fit is a vocab-bounded aggregate followed by a global
# top-k (TakeOrdered, no full sort); the fitted vocab is broadcast back
# onto the occurrence stream — the scan never shuffles on token.

VOCAB_TOP_V = 16  # the synthetic corpus has a 31-word vocabulary; a
# realistic run uses 2^15..2^17 — the plan shape is V-independent


def vocab_coverage(docs: DataFrame, top_v: int = VOCAB_TOP_V) -> DataFrame:
    """(source, n_tokens, n_oov, oov_rate) — OOV rate per source against
    the corpus-global top-``top_v`` vocabulary (count DESC, token ASC
    tie-break, so the cutoff is deterministic)."""
    toks = docs.select("source", F.explode(_tokens()).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(top_v)
        .select("tok", F.lit(1).alias("__inv"))
    )
    oov = F.count(F.when(F.col("__inv").isNull(), 1))
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            oov.cast("long").alias("n_oov"),
            F.round(oov / F.count("*"), ROUND_TO).alias("oov_rate"),
        )
    )


def vocab_coverage_sql() -> tuple[str, str]:
    """(CTEs, final SELECT) DuckDB twin."""
    ctes = f"""vc_tok AS MATERIALIZED (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
vc_vocab AS MATERIALIZED (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS cnt FROM vc_tok GROUP BY 1)
  ORDER BY cnt DESC, tok ASC LIMIT {VOCAB_TOP_V})"""
    final = f"""SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), {ROUND_TO}) AS oov_rate
FROM vc_tok t LEFT JOIN vc_vocab v ON t.tok = v.tok
GROUP BY 1"""
    return ctes, final


# ---- Bloom-filter blocklist screen -----------------------------------
#
# The standard 100 TB "does this doc mention a blocked term" pattern:
# fit a tiny Bloom filter over the blocklist ONCE (driver-side — the
# blocklist is KBs), broadcast its bit set as a literal into a map-side
# membership predicate, and confirm candidates exactly. The per-source
# report keeps the false-positive column visible so the filter's
# m/k operating point is observable, not assumed. All hash arithmetic
# is the engine-portable md5-prefix + affine family from
# ``functions.hashing`` (hashlib.md5 == Spark md5 == DuckDB md5), so
# the DuckDB twin replays the filter bit-for-bit.

BLOCKLIST = ("slow", "broken", "spam")
BLOOM_M = 256  # bits
BLOOM_K = 3  # hash functions


def bloom_bits() -> list[int]:
    """Set-bit positions of the fitted filter (driver-side fit)."""
    import hashlib

    from .hashing import MINHASH_A, MINHASH_B, MINHASH_P

    bits = set()
    for t in BLOCKLIST:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for j in range(BLOOM_K):
            bits.add(((MINHASH_A[j] * h + MINHASH_B[j]) % MINHASH_P) % BLOOM_M)
    return sorted(bits)


def _bloom_pred_sql(hcol: str, m: int, k: int, bits: list[int]) -> str:
    """Membership predicate over a pre-bound hash column — identical
    text in Spark SQL and DuckDB."""
    from .hashing import MINHASH_A, MINHASH_B, MINHASH_P

    lst = ", ".join(str(b) for b in bits)
    return " AND ".join(
        f"((({MINHASH_A[j]} * {hcol} + {MINHASH_B[j]}) % {MINHASH_P}) % {m})"
        f" IN ({lst})"
        for j in range(k)
    )


def bloom_blocklist(docs: DataFrame) -> DataFrame:
    """(source, n_docs, candidate_docs, flagged_docs, bloom_fp_docs) —
    Bloom-candidate vs exactly-confirmed blocklisted docs per source.

    The token hash is bound ONCE in a lower projection (the md5 is the
    expensive part; see SCALING.md §11 on lambda-body re-evaluation) and
    the k probe positions are cheap affine transforms above it."""
    from .hashing import h32

    bits = bloom_bits()
    toks = docs.select(
        "source",
        "doc_id",
        F.explode(F.array_distinct(_tokens())).alias("tok"),
    ).withColumn("h", h32(F.col("tok")))
    block_in = ", ".join(f"'{t}'" for t in BLOCKLIST)
    flags = toks.select(
        "source",
        "doc_id",
        F.expr(_bloom_pred_sql("h", BLOOM_M, BLOOM_K, bits)).cast("int").alias("cand"),
        F.expr(f"tok IN ({block_in})").cast("int").alias("ex"),
    )
    per_doc = flags.groupBy("source", "doc_id").agg(
        F.max("cand").alias("cand"), F.max("ex").alias("ex")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("cand").cast("long").alias("candidate_docs"),
        F.sum("ex").cast("long").alias("flagged_docs"),
        F.sum(
            F.when((F.col("cand") == 1) & (F.col("ex") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("bloom_fp_docs"),
    )


def bloom_blocklist_sql() -> tuple[str, str]:
    """(CTEs, final SELECT) DuckDB twin of :func:`bloom_blocklist`."""
    from .hashing import h32_sql

    bits = bloom_bits()
    block_in = ", ".join(f"'{t}'" for t in BLOCKLIST)
    ctes = f"""bl_h AS MATERIALIZED (
  SELECT source, doc_id, tok, {h32_sql('tok')} AS h FROM (
    SELECT source, doc_id,
           unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents)),
bl_doc AS MATERIALIZED (
  SELECT source, doc_id,
         MAX(CASE WHEN {_bloom_pred_sql('h', BLOOM_M, BLOOM_K, bits)}
             THEN 1 ELSE 0 END) AS cand,
         MAX(CASE WHEN tok IN ({block_in}) THEN 1 ELSE 0 END) AS ex
  FROM bl_h GROUP BY 1, 2)"""
    final = """SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(cand) AS BIGINT) AS candidate_docs,
       CAST(SUM(ex) AS BIGINT) AS flagged_docs,
       CAST(SUM(CASE WHEN cand = 1 AND ex = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS bloom_fp_docs
FROM bl_doc GROUP BY 1"""
    return ctes, final


# ---- token entropy ---------------------------------------------------

def token_entropy(docs: DataFrame) -> DataFrame:
    """(source, n_tokens, n_types, entropy_bits) — Shannon entropy of
    each source's token distribution (the information-density /
    degenerate-text screen: collapsed or templated sources score low).

    Scale shape: one map-side explode into a (source × vocab)-bounded
    aggregate; the per-source totals come from a window over the CELL
    table, never the occurrence stream. Entropy sums are
    vocab-bounded."""
    from pyspark.sql import Window

    toks = docs.select("source", F.explode(_tokens()).alias("tok"))
    cells = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source")
    p = F.col("c") / F.sum("c").over(w)
    per_cell = cells.select(
        "source", "c", (-p * F.log2(p)).alias("h_term")
    )
    return per_cell.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(F.sum("h_term"), ROUND_TO).alias("entropy_bits"),
    )


TOKEN_ENTROPY_SQL = """
SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(SUM(-(c * 1.0 / tot) * log2(c * 1.0 / tot)), 6)
           AS entropy_bits
FROM (
    SELECT source, c, SUM(c) OVER (PARTITION BY source) AS tot
    FROM (
        SELECT source, tok, COUNT(*) AS c FROM (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
        GROUP BY 1, 2))
GROUP BY 1"""


# ---- deterministic weighted sampling (Efraimidis–Spirakis) -----------
#
# Weighted sampling WITHOUT replacement as one top-k: each doc draws a
# portable uniform u from its id hash and ranks by ln(u)/w (monotone in
# the classic u^(1/w) key) — the Efraimidis–Spirakis 2006 estimator.
# At 100 TB this is the importance-sampling primitive for data mixing:
# one map-side key projection + one TakeOrdered; no shuffle sorts the
# corpus, no state. Both engines evaluate the identical arithmetic, so
# the sampled SET is bit-deterministic.

WSAMPLE_K = 64


def weighted_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, key) — top-``WSAMPLE_K`` token-count-weighted sample
    (longer docs proportionally likelier; swap the weight column for
    quality/temperature mixing in a real run)."""
    from .hashing import MINHASH_A, MINHASH_B, MINHASH_P, h32

    h = h32(F.col("doc_id").cast("string"))
    u = ((F.lit(MINHASH_A[1]) * h + F.lit(MINHASH_B[1])) % F.lit(MINHASH_P)
         + F.lit(1)) / F.lit(float(MINHASH_P + 1))
    w = F.size(_tokens()).cast("double")
    return (
        docs.select(
            "doc_id",
            F.size(_tokens()).cast("long").alias("n_tokens"),
            (F.log(u) / w).alias("__key"),
        )
        .orderBy(F.desc("__key"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
        .select("doc_id", "n_tokens", F.round("__key", ROUND_TO).alias("key"))
    )


def weighted_sample_sql() -> str:
    from .hashing import MINHASH_A, MINHASH_B, MINHASH_P, h32_sql

    h = h32_sql("CAST(doc_id AS VARCHAR)")
    u = (
        f"((({MINHASH_A[1]} * {h} + {MINHASH_B[1]}) % {MINHASH_P}) + 1)"
        f" / {float(MINHASH_P + 1)}"
    )
    return f"""SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       ROUND(ln({u}) / len(string_split(text, ' ')), {ROUND_TO}) AS key
FROM documents
ORDER BY ln({u}) / len(string_split(text, ' ')) DESC, doc_id ASC
LIMIT {WSAMPLE_K}"""


def langid_confusion(spark, docs: DataFrame) -> DataFrame:
    """(true_lang, pred_lang, n) — the language-ID classifier's
    confusion matrix against the corpus ``lang`` ground truth: the
    evaluation every filtering classifier ships with. Label-count-
    bounded output; shares the marker-dictionary vote with
    :func:`lang_id`."""
    preds = lang_id(spark, docs)
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )


def langid_confusion_sql() -> tuple[str, str]:
    ctes, final = lang_id_sql()
    wrapped = f"lang_preds AS MATERIALIZED (\n{final}\n)"
    return (
        ctes,
        wrapped,
        """SELECT d.lang AS true_lang, p.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lang_preds p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY 1, 2""",
    )


# ---- train/val/test split --------------------------------------------

SPLIT_VAL_PCT = 10
SPLIT_TEST_PCT = 10


def train_val_test_split(docs: DataFrame) -> DataFrame:
    """(source, split, n_docs, n_tokens, doc_frac) — the canonical
    80/10/10 assignment, stratified per source by the same Knuth-hash
    bucket arithmetic as stratified_sample: deterministic, resumable,
    map-side (a scan + a CASE — no shuffle before the bounded report
    aggregate). The assignment column is what a real run writes; the
    per-source report makes the stratification auditable."""
    bucket = ((_folded_id() * SAMPLE_KNUTH_MULT) % SAMPLE_MOD) % 100
    split = (
        F.when(bucket < SPLIT_TEST_PCT, F.lit("test"))
        .when(bucket < SPLIT_TEST_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    from pyspark.sql import Window as _W

    tot = _W.partitionBy("source")
    return (
        docs.select("source", split.alias("split"), F.size(_tokens()).alias("nt"))
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "doc_frac",
            F.round(F.col("n_docs") / F.sum("n_docs").over(tot), ROUND_TO),
        )
    )


TRAIN_VAL_TEST_SQL = f"""
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY source),
             6) AS doc_frac
FROM (
    SELECT source,
           CASE WHEN (({_folded_id_sql()} * {SAMPLE_KNUTH_MULT})
                      % {SAMPLE_MOD}) % 100 < {SPLIT_TEST_PCT}
                THEN 'test'
                WHEN (({_folded_id_sql()} * {SAMPLE_KNUTH_MULT})
                      % {SAMPLE_MOD}) % 100
                     < {SPLIT_TEST_PCT + SPLIT_VAL_PCT}
                THEN 'val'
                ELSE 'train' END AS split,
           len(string_split(text, ' ')) AS nt
    FROM documents)
GROUP BY 1, 2"""
