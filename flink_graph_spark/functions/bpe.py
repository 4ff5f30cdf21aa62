"""Byte-pair-encoding merge training, relationally (Sennrich et al.
2016 — the tokenizer-training step of an LLM data pipeline, run where
the data lives instead of on a single machine).

Classic BPE trains on the WORD-FREQUENCY table, not the corpus: the
state is (word, count, symbol sequence), which is vocab-bounded — the
100 TB corpus collapses to one bounded aggregate before training ever
starts, and each merge round is pure window/aggregate work on that
small frame. Every round:

1. adjacent-pair counts: one lead() window + one (sym, nxt) aggregate,
   weighted by word count;
2. the argmax pair (count DESC, pair ASC tie-break — deterministic);
3. greedy left-to-right non-overlapping application: candidate
   positions form gaps-and-islands; within an island of consecutive
   candidates keep every second one (an "aaaa" run merges as
   (aa)(aa), exactly the sequential greedy result);
4. renumber positions.

Steps 1–4 are ``_bpe_round``, the one round body; ``_train`` drives it
with ``operators.iterate`` (one state checkpoint per round) for both
``bpe_merges`` and ``bpe_compression``.

They are the same SQL in Spark and DuckDB, so the oracle replays
the whole training loop — merge table parity is exact, not just
plausible.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.iterate import iterate
from ..plans.checkpoints import scratch_scope
from ..rounding import ROUND_TO

BPE_ROUNDS = 4

_CHARS_T = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"


def _bpe_round(state: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One training round over (w, cnt, rn, sym): returns ``(best,
    applied)``. ``best`` (bsym, bnxt, pcnt) is the argmax pair, an
    eager checkpoint (steps 1–2 of the module docstring); ``applied``
    is the lazy next state with that merge applied and positions
    renumbered (steps 3–4), so a caller that never reads it pays
    nothing for it."""
    wlead = Window.partitionBy("w").orderBy("rn")
    paired = state.withColumn("nxt", F.lead("sym").over(wlead))
    pairs = paired.filter(F.col("nxt").isNotNull())
    best = (
        pairs.groupBy("sym", "nxt")
        .agg(F.sum("cnt").alias("pcnt"))
        .orderBy(F.desc("pcnt"), F.asc("sym"), F.asc("nxt"))
        .limit(1)
        .select(F.col("sym").alias("bsym"), F.col("nxt").alias("bnxt"), "pcnt")
        .localCheckpoint(eager=True)
    )
    cand = pairs.join(
        F.broadcast(best.select("bsym", "bnxt")),
        (F.col("sym") == F.col("bsym")) & (F.col("nxt") == F.col("bnxt")),
    ).select("w", "rn")
    isl = cand.withColumn("isl", F.col("rn") - F.row_number().over(wlead))
    keep = (
        isl.withColumn("mn", F.min("rn").over(Window.partitionBy("w", "isl")))
        .filter(((F.col("rn") - F.col("mn")) % 2) == 0)
        .select("w", "rn", F.lit(1).alias("k"))
    )
    applied = (
        paired.join(keep, ["w", "rn"], "left")
        .join(
            keep.select("w", (F.col("rn") + 1).alias("rn"), F.lit(1).alias("d")),
            ["w", "rn"],
            "left",
        )
        .filter(F.col("d").isNull())
        .select(
            "w",
            "cnt",
            "rn",
            F.when(F.col("k") == 1, F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        .select("w", "cnt", F.row_number().over(wlead).alias("rn"), "sym")
    )
    return best, applied


def _train(docs: DataFrame, rounds: int) -> tuple[DataFrame, list[DataFrame]]:
    """Run ``rounds`` applied BPE rounds on ``iterate``; returns the
    final state checkpoint and every round's ``best`` checkpoint. The
    initial state splits every word of the frequency table into its
    characters."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    state = (
        words.select(
            "w", "cnt", F.posexplode(F.expr(_CHARS_T)).alias("p", "sym")
        )
        .select("w", "cnt", (F.col("p") + 1).alias("rn"), "sym")
        .localCheckpoint(eager=True)
    )
    bests = []

    def round_(state: DataFrame, _it: int) -> DataFrame:
        best, applied = _bpe_round(state)
        bests.append(best)
        return applied

    state, _, _ = iterate(state, round_, rounds)
    return state, bests


@scratch_scope
def bpe_merges(docs: DataFrame) -> DataFrame:
    """(round, left, right, merged, pair_count) — the first ``BPE_ROUNDS``
    learned BPE merges over the corpus word-frequency table. Keeps
    every round's ``best`` checkpoint: the result reads them."""
    state, bests = _train(docs, BPE_ROUNDS - 1)
    # the last learned merge is never APPLIED for the merge table
    # readout: its round stops at the best pair (the oracle's unrolled
    # chain stops at the same point), and the state it read is dead
    bests.append(_bpe_round(state)[0])
    return reduce(
        DataFrame.unionByName,
        (
            best.select(
                F.lit(r).cast("long").alias("round"),
                F.col("bsym").alias("left"),
                F.col("bnxt").alias("right"),
                F.concat("bsym", "bnxt").alias("merged"),
                F.col("pcnt").cast("long").alias("pair_count"),
            )
            for r, best in enumerate(bests, 1)
        ),
    )


def _bpe_train_ctes(rounds: int, final_state: bool = True) -> list[str]:
    """The unrolled training CTE chain, shared structurally by
    ``bpe_merges_sql`` and ``bpe_compression_sql`` (no string surgery —
    each composer appends its own readout). ``final_state=False`` stops
    after the last round's best-pair CTE (``bpe_b{rounds}``) — the
    merge-table readout never APPLIES the last merge, so the apply and
    renumber stages of the final round would be dead MATERIALIZED
    work."""
    ctes = [
        """bpe_words AS MATERIALIZED (
    SELECT w, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE length(w) > 0 GROUP BY 1)""",
        """bpe_s0 AS MATERIALIZED (
    SELECT w, cnt, g.i AS rn, substr(w, g.i, 1) AS sym
    FROM bpe_words, UNNEST(generate_series(1, length(w))) g(i))""",
    ]
    for r in range(1, rounds + 1):
        prev = f"bpe_s{r - 1}"
        ctes.append(
            f"""bpe_p{r} AS MATERIALIZED (
    SELECT w, cnt, rn, sym,
           LEAD(sym) OVER (PARTITION BY w ORDER BY rn) AS nxt
    FROM {prev})"""
        )
        ctes.append(
            f"""bpe_b{r} AS MATERIALIZED (
    SELECT sym AS bsym, nxt AS bnxt, SUM(cnt) AS pcnt
    FROM bpe_p{r} WHERE nxt IS NOT NULL
    GROUP BY 1, 2 ORDER BY pcnt DESC, bsym ASC, bnxt ASC LIMIT 1)"""
        )
        if r == rounds and not final_state:
            break
        ctes.append(
            f"""bpe_k{r} AS MATERIALIZED (
    SELECT w, rn FROM (
        SELECT w, rn, MIN(rn) OVER (PARTITION BY w, isl) AS mn
        FROM (
            SELECT p.w, p.rn,
                   p.rn - ROW_NUMBER() OVER (PARTITION BY p.w
                                             ORDER BY p.rn) AS isl
            FROM bpe_p{r} p JOIN bpe_b{r} b
              ON p.sym = b.bsym AND p.nxt = b.bnxt))
    WHERE (rn - mn) % 2 = 0)"""
        )
        ctes.append(
            f"""bpe_s{r} AS MATERIALIZED (
    SELECT w, cnt,
           ROW_NUMBER() OVER (PARTITION BY w ORDER BY rn) AS rn,
           sym
    FROM (
        SELECT p.w, p.cnt, p.rn,
               CASE WHEN k.rn IS NOT NULL THEN p.sym || p.nxt
                    ELSE p.sym END AS sym
        FROM bpe_p{r} p
        LEFT JOIN bpe_k{r} k ON p.w = k.w AND p.rn = k.rn
        LEFT JOIN bpe_k{r} d ON p.w = d.w AND p.rn = d.rn + 1
        WHERE d.rn IS NULL))"""
        )
    return ctes


def bpe_merges_sql() -> str:
    """Self-contained DuckDB twin — the same training loop, unrolled."""
    union = "\nUNION ALL\n".join(
        f"""SELECT CAST({r} AS BIGINT) AS round, bsym AS "left",
       bnxt AS "right", bsym || bnxt AS merged,
       CAST(pcnt AS BIGINT) AS pair_count
FROM bpe_b{r}"""
        for r in range(1, BPE_ROUNDS + 1)
    )
    joined = ",\n".join(_bpe_train_ctes(BPE_ROUNDS, final_state=False))
    return f"WITH {joined}\n{union}"


@scratch_scope
def _final_state(docs: DataFrame, rounds: int) -> DataFrame:
    """(w, cnt, rn, sym) after ``rounds`` merges, each applied — the
    same rounds as ``bpe_merges``. Every ``best`` was read only by the
    state checkpoint that applied it, so the scope frees all of them."""
    return _train(docs, rounds)[0]


def bpe_compression(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """(source, n_chars, n_pieces, compression) — corpus pieces under
    the trained ``rounds``-merge vocabulary, per source. The tokenizer
    fit-then-measure loop as one query: the piece length of every word
    is read off the trained state (vocab-bounded) and weighted by each
    source's word occurrences — the corpus is scanned once."""
    state = _final_state(docs, rounds)
    wlen = state.groupBy("w").agg(
        F.count("*").alias("pieces"), F.max(F.length("w")).alias("chars")
    )
    occ = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    return (
        occ.join(F.broadcast(wlen), "w")
        .groupBy("source")
        .agg(
            F.sum("chars").cast("long").alias("n_chars"),
            F.sum("pieces").cast("long").alias("n_pieces"),
            F.round(F.sum("chars") / F.sum("pieces"), ROUND_TO).alias(
                "compression"
            ),
        )
    )


def bpe_compression_sql() -> str:
    """DuckDB twin: the training chain + per-source weighted readout —
    composed structurally from the shared ``_bpe_train_ctes`` chain."""
    ctes = ",\n".join(_bpe_train_ctes(BPE_ROUNDS))
    return f"""WITH {ctes},
bpe_wlen AS MATERIALIZED (
    SELECT w, COUNT(*) AS pieces, MAX(length(w)) AS chars
    FROM bpe_s{BPE_ROUNDS} GROUP BY 1)
SELECT source, CAST(SUM(chars) AS BIGINT) AS n_chars,
       CAST(SUM(pieces) AS BIGINT) AS n_pieces,
       ROUND(SUM(chars) * 1.0 / SUM(pieces), {ROUND_TO}) AS compression
FROM (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
JOIN bpe_wlen USING (w)
WHERE length(w) > 0
GROUP BY 1"""
