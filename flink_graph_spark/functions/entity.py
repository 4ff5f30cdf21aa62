"""Entity resolution — blocking + edit-distance matching (the
record-linkage workload of a data-integration pipeline; Fellegi &
Sunter 1969 shape, deterministic scoring).

The 100 TB posture is the same as every dedup family here: NEVER score
all pairs. Candidates come from a BLOCKING key equi-join (here: nation
+ name prefix — in production a phonetic/soundex key or an LSH over
field shingles), then the expensive field similarity (Levenshtein —
identical algorithm in Spark and DuckDB, so parity is integer-exact)
runs on candidates only. Dirty records are injected deterministically
(every 40th customer cloned with one character flipped and a shifted
key), so the oracle replays the identical scenario and the match set
is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..rounding import ROUND_TO

DIRTY_MOD = 40  # every 40th customer gets a perturbed clone
DIRTY_OFFSET = 5_000_000
MATCH_THRESHOLD = 0.9  # combined multi-field score


def with_dirty_customers(customers: DataFrame) -> DataFrame:
    """customers ∪ perturbed clones: key shifted by 5e6, last name
    character rewritten to 'x' — a deterministic dirty-data injection."""
    dirty = customers.filter(F.col("c_custkey") % DIRTY_MOD == 0).select(
        (F.col("c_custkey") + F.lit(DIRTY_OFFSET)).alias("c_custkey"),
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("x")
        ).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
    )
    return customers.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    ).unionByName(dirty)


DIRTY_SQL = f"""
er_cust AS MATERIALIZED (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
    UNION ALL
    SELECT c_custkey + {DIRTY_OFFSET},
           substr(c_name, 1, length(c_name) - 1) || 'x',
           c_nationkey, c_acctbal
    FROM customer WHERE c_custkey % {DIRTY_MOD} = 0
)"""


# Blocking-key selectivity must SCALE: a 12-char prefix of
# "Customer#000123456" is constant below 1M customers, so blocks grow
# with the corpus and the candidate join goes quadratic (measured:
# 16.9s at sf0.1 vs 0.9s with a selective key). The 17-char prefix is
# both selective (10 names per block at any sf) and invariant under
# the injected perturbation (only the final character is edited) —
# the general rule: pick the blocking key so block sizes stay O(1) as
# the corpus grows, and make it invariant under the edits you intend
# to catch.
BLOCK_PREFIX_LEN = 17

# A good key is still not a GUARANTEE: real corpora have skewed blocks
# (one city, one surname, a default value), and any block of K members
# contributes K²/2 candidate pairs no matter how selective the key is
# on average (measured: the 100× replicated sweep corpus, where
# replicas share names by construction, drove the all-pairs-in-block
# candidate stage to exponent 1.36). The guard is the SORTED
# NEIGHBORHOOD method (Hernández & Stolfo 1995): rank each block's
# members by (c_name, c_custkey) and compare only pairs within
# NEIGHBORHOOD_WINDOW ranks — per-record work is bounded by the window
# regardless of block size, so the worst-case candidate stage is
# linear in n. The ordering key puts near-identical names adjacent
# (the injected clone differs only in its final character, so it
# always sits within ~10 ranks of its original at every shipped SF),
# and true K-member duplicate clusters bigger than the window are
# still recovered transitively: rank-adjacent chains of matches
# connect the whole cluster for the downstream connected-components
# consumer. Blocks at or under window+1 members — every block at the
# shipped SFs — compare ALL pairs, so the cap changes nothing where
# it doesn't bind.
NEIGHBORHOOD_WINDOW = 16


def entity_matches(
    customers_dirty: DataFrame, window: int = NEIGHBORHOOD_WINDOW
) -> DataFrame:
    """(ka, kb, sim) — matched pairs under the MULTI-FIELD score
    0.7·name_similarity + 0.3·balance_agreement: on id-style names
    (digits-only differences) the name field alone cannot separate a
    perturbed clone from a neighboring key, which is exactly why real
    record linkage scores several fields (Fellegi–Sunter weights).

    Candidates are pairs that (a) share the blocking key AND (b) sit
    within ``window`` ranks in the block's (c_name, c_custkey) order —
    the sorted-neighborhood cap above. Output keys are ordered
    (ka < kb) regardless of rank order."""
    blocked = customers_dirty.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.struct(
            "c_nationkey",
            F.expr(f"substring(c_name, 1, {BLOCK_PREFIX_LEN})").alias("pfx"),
        ).alias("bk"),
    )
    w = Window.partitionBy("bk").orderBy("c_name", "c_custkey")
    ranked = blocked.withColumn("rn", F.row_number().over(w))
    a = ranked.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
        F.col("c_acctbal").alias("ba"),
        F.col("rn").alias("ra"),
        "bk",
    )
    b = ranked.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
        F.col("c_acctbal").alias("bb"),
        F.col("rn").alias("rb"),
        "bk",
    )
    name_sim = F.lit(1.0) - F.levenshtein("na", "nb") / F.greatest(
        F.length("na"), F.length("nb")
    )
    sim = F.lit(0.7) * name_sim + F.lit(0.3) * (
        F.col("ba") == F.col("bb")
    ).cast("double")
    # Filter on the RAW score, round only for output — the SQL twin
    # does WHERE raw >= threshold with ROUND in the SELECT, and both
    # sides must compare the same quantity or a raw score in
    # [threshold - 5e-7, threshold) diverges at the boundary.
    return (
        a.join(b, "bk")
        .filter(
            (F.col("rb") > F.col("ra"))
            & (F.col("rb") <= F.col("ra") + F.lit(window))
        )
        .withColumn("__sim_raw", sim)
        .filter(F.col("__sim_raw") >= MATCH_THRESHOLD)
        .select(
            F.least("ka", "kb").alias("ka"),
            F.greatest("ka", "kb").alias("kb"),
            F.round("__sim_raw", ROUND_TO).alias("sim"),
        )
    )


def entity_matches_sql() -> str:
    """Final SELECT (composes after DIRTY_SQL). Replays the sorted-
    neighborhood rank window exactly: same ROW_NUMBER ordering, same
    rank-distance bound, same LEAST/GREATEST key ordering."""
    score = (
        "0.7 * (1.0 - levenshtein(a.c_name, b.c_name)"
        " / GREATEST(length(a.c_name), length(b.c_name)))"
        " + 0.3 * (CASE WHEN a.c_acctbal = b.c_acctbal"
        " THEN 1.0 ELSE 0.0 END)"
    )
    return f"""SELECT LEAST(a.c_custkey, b.c_custkey) AS ka,
       GREATEST(a.c_custkey, b.c_custkey) AS kb,
       ROUND({score}, {ROUND_TO}) AS sim
FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY c_nationkey, substr(c_name, 1, {BLOCK_PREFIX_LEN})
          ORDER BY c_name, c_custkey) AS rn
      FROM er_cust) a
JOIN (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY c_nationkey, substr(c_name, 1, {BLOCK_PREFIX_LEN})
          ORDER BY c_name, c_custkey) AS rn
      FROM er_cust) b
  ON a.c_nationkey = b.c_nationkey
 AND substr(a.c_name, 1, {BLOCK_PREFIX_LEN}) = substr(b.c_name, 1, {BLOCK_PREFIX_LEN})
 AND b.rn > a.rn AND b.rn <= a.rn + {NEIGHBORHOOD_WINDOW}
WHERE {score} >= {MATCH_THRESHOLD}"""
