"""Mergeable cardinality sketches as relational algebra — a
HyperLogLog-style distinct estimate whose every step is a deterministic
column expression, so DuckDB replays the IDENTICAL arithmetic and the
oracle hash-matches (north-star extension, SURVEY.md §2.10; the
reference has no approximate aggregates).

Why this shape at 100 TB: an exact COUNT(DISTINCT user) over a 100 TB
event log shuffles every distinct key; the sketch reduces each
partition to m=64 register maxima (map-side combine on (group, bucket)),
then merges registers — shuffle volume is O(groups × 64) regardless of
input size, and the registers are mergeable across days/streams. Spark's
built-in ``approx_count_distinct`` is the production shortcut, but its
HLL++ internals are engine-private — this implementation exposes the
register math as plain SQL so the oracle (and any other engine) can
verify it bit-for-bit.

Hash: the shared md5-prefix ``h32`` from ``functions.hashing`` (exact
integer parity in both engines). bucket = h mod 64; the remaining 26
bits feed rho = 1 + count of trailing zero bits, computed as
log2(x & -x) — exact in IEEE doubles because x & -x is a power of two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rounding import ROUND_TO
from .hashing import h32, h32_sql

HLL_M = 64  # registers (2^6 buckets)
HLL_REST_BITS = 26  # 32-bit hash minus 6 bucket bits
HLL_ALPHA = 0.709  # standard alpha_64
HLL_ROUND_TO = 4


def hll_distinct(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-``group_col`` HLL estimate of distinct ``key_col`` values,
    with the exact count alongside so accuracy is auditable.

    Returns (group, est_distinct, exact_distinct); small-range
    correction (linear counting) applies below 2.5·m, as in the
    original Flajolet et al. formulation.

    NULL keys are excluded before hashing — COUNT(DISTINCT) semantics
    (Spark's hash of NULL is the seed, a real value, so without the
    filter a NULL key would register as one extra distinct; the twin's
    hex-slice path outright errors on hash(NULL)).
    """
    df = df.filter(F.col(key_col).isNotNull())
    h = h32(F.col(key_col).cast("string"))
    # floor-division on BOTH sides (a bare cast truncates in Spark but
    # ROUNDS in DuckDB — a silent parity breaker)
    rest = F.floor(h / F.lit(HLL_M)).cast("long")
    rho = (
        F.when(rest == 0, F.lit(HLL_REST_BITS + 1))
        .otherwise(
            F.floor(F.log2(rest.bitwiseAND(-rest))).cast("int") + F.lit(1)
        )
        .alias("rho")
    )
    regs = (
        df.select(
            F.col(group_col).alias("grp"),
            (h % F.lit(HLL_M)).alias("bucket"),
            rho,
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    # raw estimate: alpha·m² / (Σ_present 2^-M + one 2^0 per EMPTY bucket)
    agg = regs.groupBy("grp").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("z_present"),
        F.count("*").alias("n_present"),
    )
    z = F.col("z_present") + (F.lit(HLL_M) - F.col("n_present"))
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / z
    empties = F.lit(HLL_M) - F.col("n_present")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (empties > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / empties),
    ).otherwise(raw)
    exact = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(F.count_distinct(F.col(key_col)).cast("long").alias("exact_distinct"))
    )
    return (
        agg.select("grp", F.round(est, HLL_ROUND_TO).alias("est_distinct"))
        .join(exact, "grp")
        .select(
            F.col("grp").alias(group_col), "est_distinct", "exact_distinct"
        )
    )


def hll_sql(table: str, group_col: str, key_col: str) -> str:
    h = h32_sql(f"CAST({key_col} AS VARCHAR)")
    return f"""WITH hashed AS MATERIALIZED (
    SELECT {group_col} AS grp,
           {h} % {HLL_M} AS bucket,
           CAST(floor({h} / {HLL_M}) AS BIGINT) AS rest
    FROM {table} WHERE {key_col} IS NOT NULL
),
regs AS MATERIALIZED (
    SELECT grp, bucket,
           MAX(CASE WHEN rest = 0 THEN {HLL_REST_BITS + 1}
               ELSE CAST(floor(log2(rest & (-rest))) AS INT) + 1 END) AS m
    FROM hashed GROUP BY 1, 2
),
agg AS (
    SELECT grp,
           SUM(power(2.0, -m)) AS z_present,
           COUNT(*) AS n_present
    FROM regs GROUP BY 1
),
est AS (
    SELECT grp,
           {HLL_ALPHA * HLL_M * HLL_M} /
               (z_present + ({HLL_M} - n_present)) AS raw,
           {HLL_M} - n_present AS empties
    FROM agg
)
SELECT e.grp AS {group_col},
       ROUND(CASE WHEN raw <= {2.5 * HLL_M} AND empties > 0
             THEN {HLL_M}.0 * ln({HLL_M}.0 / empties)
             ELSE raw END, {HLL_ROUND_TO}) AS est_distinct,
       x.exact_distinct
FROM est e
JOIN (
    SELECT {group_col} AS grp,
           CAST(COUNT(DISTINCT {key_col}) AS BIGINT) AS exact_distinct
    FROM {table} GROUP BY 1
) x USING (grp)"""


# ---- count-min sketch (heavy-hitter frequency estimation) -------------

CM_DEPTH = 4
CM_WIDTH = 256
CM_TOP_K = 20


def count_min_estimates(
    df: DataFrame, key_col: str, top_k: int = CM_TOP_K, width: int = CM_WIDTH
) -> DataFrame:
    """(token, exact_cnt, cm_est) — build a depth×width count-min sketch
    over ``key_col`` occurrences, then read back the estimates for the
    exact top-``top_k`` keys (deterministic: count DESC, key ASC) so the
    CM guarantee (est ≥ exact, tight for heavy hitters) is auditable in
    one result. Hash row j of key t = shared md5-prefix h32(j ':' t)
    mod width — exact integer parity in DuckDB.

    100 TB shape (the SimHash lesson): occurrences are NEVER exploded
    ×depth. Keys pre-aggregate to (key, cnt) — a vocabulary-bounded,
    map-side-combined shuffle — and only that frame fans out ×depth to
    build the depth×width cell matrix, which is ≤ depth·width rows no
    matter the corpus. Registers are mergeable across shards/days like
    the HLL registers above.
    """
    keys = df.select(F.col(key_col).cast("string").alias("key"))
    cnts = keys.groupBy("key").agg(F.count("*").cast("long").alias("cnt"))
    j = F.explode(F.array(*[F.lit(i) for i in range(CM_DEPTH)])).alias("j")
    cells = cnts.select("key", "cnt", j).select(
        "j",
        (
            h32(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("key")))
            % F.lit(width)
        ).alias("col"),
        "cnt",
    )
    sketch = cells.groupBy("j", "col").agg(F.sum("cnt").alias("c"))
    top = cnts.orderBy(F.desc("cnt"), F.asc("key")).limit(top_k)
    probes = top.select("key", "cnt", j).select(
        "key",
        "cnt",
        "j",
        (
            h32(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("key")))
            % F.lit(width)
        ).alias("col"),
    )
    return (
        probes.join(sketch, ["j", "col"])
        .groupBy("key", "cnt")
        .agg(F.min("c").cast("long").alias("cm_est"))
        .select(
            F.col("key").alias("token"),
            F.col("cnt").alias("exact_cnt"),
            "cm_est",
        )
    )


def count_min_sql(keys_cte: str) -> tuple[str, str]:
    """(CTE text, final SELECT); ``keys_cte`` must expose one ``key``
    row per occurrence."""
    h = h32_sql("concat(CAST(j AS VARCHAR), ':', key)")
    ctes = f"""cm_cnt AS MATERIALIZED (
    SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt FROM {keys_cte} GROUP BY 1
),
cm_sketch AS MATERIALIZED (
    SELECT j, {h} % {CM_WIDTH} AS col, CAST(SUM(cnt) AS BIGINT) AS c
    FROM cm_cnt, UNNEST(generate_series(0, {CM_DEPTH - 1})) AS u(j)
    GROUP BY 1, 2
),
cm_top AS MATERIALIZED (
    SELECT key, cnt FROM cm_cnt ORDER BY cnt DESC, key ASC LIMIT {CM_TOP_K}
)"""
    final = f"""SELECT t.key AS token, t.cnt AS exact_cnt,
       CAST(MIN(s.c) AS BIGINT) AS cm_est
FROM cm_top t, UNNEST(generate_series(0, {CM_DEPTH - 1})) AS u(j), cm_sketch s
WHERE s.j = u.j
  AND s.col = {h32_sql("concat(CAST(u.j AS VARCHAR), ':', t.key)")} % {CM_WIDTH}
GROUP BY 1, 2"""
    return ctes, final


# ---- mergeable histogram quantile sketch -----------------------------
#
# Fixed-width-bin histogram quantiles — the mergeable alternative to an
# exact global sort when "p50/p90/p99 of doc length over 100 TB" only
# needs bin-width resolution. Per partition the input reduces to
# (bin, count) pairs (map-side combine), the merged histogram is
# O(range/width) rows regardless of input size, and histograms from
# different days/shards merge by adding counts. The quantile read-out
# interpolates linearly inside the target bin; every step is integer or
# plain double arithmetic, so DuckDB replays it exactly (same contract
# as the HLL sketch above). Spark's approx_percentile is the production
# shortcut; this exposes the math for cross-engine verification.

HIST_BIN_W = 10  # token-count bin width
HIST_QUANTILES = (0.5, 0.9, 0.99)


def histogram_quantiles(
    docs: DataFrame, quantiles: tuple[float, ...] = HIST_QUANTILES
) -> DataFrame:
    """One row per requested quantile: (q, n, est) where est is the
    interpolated token-count quantile from the binned histogram."""
    from pyspark.sql import Window

    # NULL text has no token count — it cannot be placed in a bin, so
    # it is excluded from the histogram AND the quantile denominator
    # (a NULL bin would also sort NULLS FIRST here but NULLS LAST in
    # the twin, silently shifting every cumulative count)
    binned = (
        docs.select(
            F.expr(f"size(split(text, ' ')) div {HIST_BIN_W}").alias("bin")
        )
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = binned.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    qdf = docs.sparkSession.createDataFrame(
        [(q,) for q in quantiles], "q double"
    )
    # target rank q*n; first bin whose cumulative count reaches it
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(
            F.min_by(
                F.struct("bin", "cnt", "cum", "n"), F.col("bin")
            ).alias("s")
        )
        .select("q", "s.bin", "s.cnt", "s.cum", "s.n")
    )
    frac = (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt"))) / F.col(
        "cnt"
    )
    return hit.select(
        "q",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("bin") * F.lit(float(HIST_BIN_W)) + frac * F.lit(float(HIST_BIN_W)),
            ROUND_TO,
        ).alias("est"),
    )


def histogram_quantiles_sql() -> tuple[str, str]:
    """(CTE text, final SELECT) — composes after DOC_TOK_SQL."""
    qvals = ", ".join(f"({q})" for q in HIST_QUANTILES)
    ctes = f"""hq_cum AS MATERIALIZED (
    SELECT bin, cnt,
           SUM(cnt) OVER (ORDER BY bin) AS cum,
           SUM(cnt) OVER () AS n
    FROM (
        -- NULL-text docs carry no token count: excluded from the
        -- histogram and the denominator (mirrors the Spark side)
        SELECT len(t) // {HIST_BIN_W} AS bin, COUNT(*) AS cnt
        FROM doc_tok WHERE t IS NOT NULL GROUP BY 1
    )
),
hq_q AS (SELECT * FROM (VALUES {qvals}) AS t(q))"""
    final = f"""SELECT q, CAST(n AS BIGINT) AS n,
       ROUND(bin * {float(HIST_BIN_W)}
             + ((q * n - (cum - cnt)) / cnt) * {float(HIST_BIN_W)},
             {ROUND_TO}) AS est
FROM (
    SELECT q, bin, cnt, cum, n,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) AS rn
    FROM hq_cum CROSS JOIN hq_q
    WHERE cum >= q * n
) WHERE rn = 1"""
    return ctes, final
