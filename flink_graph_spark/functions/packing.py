"""Sequence packing — assign documents to fixed-token-budget training
bins (the "sequence packing" step of an LLM data pipeline: concatenate
docs into ~context-length sequences without splitting documents).

Semantics: within each (lang, shard) group, walk docs in doc_id order
and NEXT-FIT pack: a doc goes into the current bin unless adding it
would exceed the token budget, in which case a new bin starts (a doc
longer than the budget gets a bin of its own). Token count = whitespace
token count (same tokenizer as ``text.token_counts``). Bin ids are
0-based per group.

Scale design: packing is inherently sequential, so the sequential unit
is kept SMALL and local — a (lang, shard) group, shard =
``doc_id // shard_size`` — and groups run embarrassingly parallel via
``applyInPandas`` (one Arrow batch per group, a tight numpy-free loop
over ints). This mirrors what production packers do (pack per input
file), keeps determinism (shards are key-derived, not
partition-derived), and at 100 TB the shuffle on (lang, shard) is the
only data movement. Exactly expressible in SQL as a sequential
recursion → DuckDB twin uses WITH RECURSIVE stepping one row per
group per iteration (``PACK_SEQUENCES_SQL``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_BUDGET = 256
SHARD_SIZE = 200


def pack_sequences(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, shard, n_tokens, bin_id) — next-fit packing per
    (lang, shard) group in doc_id order."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr(f"doc_id div {SHARD_SIZE}").alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            if bins and fill + n > TOKEN_BUDGET:
                cur += 1
                fill = 0
            fill += n
            bins.append(cur)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    return (
        toks.groupBy("lang", "shard")
        .applyInPandas(
            pack,
            "doc_id long, lang string, shard long, n_tokens long, bin_id long",
        )
        .orderBy("doc_id")
    )


PACK_SEQUENCES_SQL = f"""
WITH RECURSIVE toks AS (
    SELECT doc_id, lang, doc_id // {SHARD_SIZE} AS shard,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ROW_NUMBER() OVER (
               PARTITION BY lang, doc_id // {SHARD_SIZE} ORDER BY doc_id
           ) AS rn
    FROM documents
),
pack AS (
    SELECT lang, shard, rn, doc_id, n_tokens,
           CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
    FROM toks WHERE rn = 1
    UNION ALL
    SELECT t.lang, t.shard, t.rn, t.doc_id, t.n_tokens,
           CASE WHEN p.fill + t.n_tokens > {TOKEN_BUDGET}
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + t.n_tokens > {TOKEN_BUDGET}
                THEN t.n_tokens ELSE p.fill + t.n_tokens END
    FROM pack p
    JOIN toks t ON t.lang = p.lang AND t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT doc_id, lang, shard, n_tokens, bin_id
FROM pack
ORDER BY doc_id"""
