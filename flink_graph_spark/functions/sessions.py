"""Event analytics over ``events`` — gap sessionization, JSON property
extraction, hourly rollups, top-k per user (north-star extension,
SURVEY.md §2.10; the reference has no streaming/event surface).

Parity notes:
* Gaps are compared in integer epoch-microseconds (both engines read
  the same nanosecond parquet truncated to µs) — no timestamp-diff
  dialect drift.
* Money sums go through integer cents (ROUND(value*100) is the same
  double→int in both engines) so aggregation order can't move the
  6th decimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..rounding import ROUND_TO

SESSION_GAP_US = 1_800_000_000  # 30 minutes


def sessionize(events: DataFrame) -> DataFrame:
    """Classic batch sessionization: lag over (user, time) → new-session
    flag on gap > threshold → running sum = session id → per-session
    rollup. One window pass + one aggregation; partitions by user_id so
    it scales with the user count, not the event count.
    Returns (user_id, session_id, n_events, start_ts, end_ts, sum_cents).
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = (
        events.select("user_id", "event_id", "ts", "value", us.alias("us"))
        .withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_us").isNull()
                | ((F.col("us") - F.col("prev_us")) > SESSION_GAP_US),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("is_new").over(wrun))
    )
    return flagged.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
    )


def sessionize_sql() -> tuple[str, str]:
    """(CTE text, final SELECT) for composition by the registry."""
    ctes = f"""
ev AS MATERIALIZED (
    SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events
),
flagged AS MATERIALIZED (
    SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                   THEN 1 ELSE 0 END AS is_new
    FROM (
        SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                      AS prev_us
        FROM ev
    )
),
sess AS MATERIALIZED (
    SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)"""
    final = """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM sess GROUP BY 1, 2"""
    return ctes, final


def json_k_stats(events: DataFrame) -> DataFrame:
    """Extract the JSON property ``$.k`` from props and aggregate per
    event type. get_json_object stays JVM-side (no Python UDF).

    try_cast, not cast: props is a user payload, so ``$.k`` can hold a
    non-numeric string — under ANSI mode a hard cast THROWS
    (CAST_INVALID_INPUT, found by the round-6 unicode fuzz), killing
    the whole query for one malformed row. Malformed values become
    NULL (skipped by the aggs), same TRY_CAST rule as the twin."""
    k = F.expr("try_cast(get_json_object(props, '$.k') AS LONG)")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


JSON_K_STATS_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1"""


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1h window per event_type (batch twin of the streaming
    windowed agg in streaming/)."""
    return events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


HOURLY_ROLLUP_SQL = """
SELECT event_type, date_trunc('hour', ts) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2"""


def top_events_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k events by value per user (window ranking, deterministic
    event_id tie-break)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("user_id", "event_id", "value", F.col("rn").cast("long").alias("rn"))
    )


def top_events_per_user_sql(k: int = 3) -> str:
    return f"""
SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rn
    FROM events
) WHERE rn <= {k}"""


# ---- event funnel ----------------------------------------------------

FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def event_funnel(events: DataFrame) -> DataFrame:
    """(user_id, funnel_depth) — deepest stage each user reached through
    the ordered chain, earliest-completion semantics: stage i counts
    only with a timestamp STRICTLY after the user's earliest completion
    of stage i-1 (ClickHouse windowFunnel-style, without the window
    bound).

    Plan: one sequential min-aggregation per stage — each is a hash agg
    over a filtered (user, ts) projection joined to the previous
    stage's min; depth = count of non-null stage times. len(stages)
    shuffles of a per-user frame, no fan-out joins, no window sort over
    raw events.
    """
    cur = (
        events.where(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    for i, stage in enumerate(FUNNEL_STAGES[1:], start=1):
        nxt = (
            events.where(F.col("event_type") == stage)
            .select("user_id", F.col("ts").alias("__ts"))
            .join(cur.select("user_id", F.col(f"t{i-1}").alias("__prev")), "user_id")
            .where(F.col("__ts") > F.col("__prev"))
            .groupBy("user_id")
            .agg(F.min("__ts").alias(f"t{i}"))
        )
        cur = cur.join(nxt, "user_id", "left")
    depth = sum(
        (F.col(f"t{i}").isNotNull()).cast("int") for i in range(len(FUNNEL_STAGES))
    )
    return cur.select(
        "user_id", depth.cast("bigint").alias("funnel_depth")
    ).orderBy("user_id")


EVENT_FUNNEL_SQL = """
WITH s0 AS MATERIALIZED (
    SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY 1
),
s1 AS MATERIALIZED (
    SELECT e.user_id, MIN(e.ts) AS t1 FROM events e JOIN s0 ON e.user_id = s0.user_id
    WHERE e.event_type = 'view' AND e.ts > s0.t0 GROUP BY 1
),
s2 AS MATERIALIZED (
    SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
),
s3 AS MATERIALIZED (
    SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
)
SELECT s0.user_id,
       CAST(1 + (s1.user_id IS NOT NULL)::INT + (s2.user_id IS NOT NULL)::INT
              + (s3.user_id IS NOT NULL)::INT AS BIGINT) AS funnel_depth
FROM s0
LEFT JOIN s1 ON s0.user_id = s1.user_id
LEFT JOIN s2 ON s0.user_id = s2.user_id
LEFT JOIN s3 ON s0.user_id = s3.user_id
ORDER BY s0.user_id"""


# ---- hourly retention ------------------------------------------------


def hourly_retention(events: DataFrame) -> DataFrame:
    """(hour, active_users, retained_users) — users active in hour h who
    are also active in h+1. One distinct-project to (user, hour), one
    self-equi-join shifted by an hour, one agg — no per-user window
    sort; the (user, hour) frame is tiny relative to raw events.
    """
    uh = events.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).distinct()
    nxt = uh.select(
        "user_id", (F.col("hour") - F.expr("INTERVAL 1 HOUR")).alias("hour")
    )
    return (
        uh.join(nxt.withColumn("__r", F.lit(1)).distinct(), ["user_id", "hour"], "left")
        .groupBy("hour")
        .agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum(F.coalesce(F.col("__r"), F.lit(0))).cast("bigint").alias(
                "retained_users"
            ),
        )
        .orderBy("hour")
    )


HOURLY_RETENTION_SQL = """
WITH uh AS MATERIALIZED (
    SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour FROM events
)
SELECT a.hour,
       CAST(COUNT(*) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS retained_users
FROM uh a
LEFT JOIN uh b
  ON a.user_id = b.user_id AND b.hour = a.hour + INTERVAL 1 HOUR
GROUP BY 1
ORDER BY 1"""


# ---- per-group length quantiles --------------------------------------


def length_quantiles(docs: DataFrame) -> DataFrame:
    """(lang, p50, p90, p99) of document char lengths. Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share linear
    interpolation — verified identical to 6 dp. (At 100 TB swap in
    ``percentile_approx`` — same plan, bounded memory, documented
    error; the exact form is the oracle anchor.)"""
    q = F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
    return (
        docs.groupBy("lang")
        .agg(q.alias("q"))
        .select(
            "lang",
            F.round(F.col("q")[0], 6).alias("p50"),
            F.round(F.col("q")[1], 6).alias("p90"),
            F.round(F.col("q")[2], 6).alias("p99"),
        )
        .orderBy("lang")
    )


LENGTH_QUANTILES_SQL = """
SELECT lang,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents
GROUP BY 1
ORDER BY 1"""


# ---- sliding-window rollup -------------------------------------------


def sliding_rollup(events: DataFrame) -> DataFrame:
    """(w_start, event_type, n_events) over 1-hour windows sliding every
    30 minutes — each event lands in exactly two windows. Spark's
    ``window(ts, '1 hour', '30 minutes')`` expands map-side (no join);
    the DuckDB twin unnests the two candidate window starts per event.
    """
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "event_type",
            "n_events",
        )
        .orderBy("w_start", "event_type")
    )


SLIDING_ROLLUP_SQL = """
WITH cand AS (
    SELECT event_type,
           unnest([
               to_timestamp(floor(epoch(ts) / 1800) * 1800),
               to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800)
           ]) AS w_start,
           ts
    FROM events
)
SELECT CAST(w_start AS TIMESTAMP) AS w_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM cand
WHERE ts >= w_start AND ts < w_start + INTERVAL 1 HOUR
GROUP BY 1, 2
ORDER BY 1, 2"""


# ---- trailing-window anomaly scores ----------------------------------

def hourly_anomaly(events: DataFrame) -> DataFrame:
    """(event_type, hour, n_events, trail_mean, trail_std, z) — each
    hour's event count z-scored against its own 3-hour trailing window
    (the streaming-monitoring alert primitive, computed batch-side).

    Scale shape: one bounded rollup (event_type × hour cells), then ONE
    window sort per event_type over the CELL table — the raw event scan
    never enters a window. z is NULL until 3 trailing cells exist and
    when the trailing std is 0 (constant traffic ≠ anomaly); the NULL
    contract is replayed identically in the oracle."""
    cells = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n_events"))
    return anomaly_scores(cells)


def anomaly_scores(cells: DataFrame) -> DataFrame:
    """z-score stage over a prebuilt (event_type, hour, n_events) cell
    table — shared by the batch rollup and the STREAMING rollup
    snapshot (the alert layer reads the incrementally-maintained cells
    either way)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-3, -1)
    )
    trail_n = F.count("*").over(w)
    trail_mean = F.avg("n_events").over(w)
    trail_std = F.stddev_pop("n_events").over(w)
    return cells.select(
        "event_type",
        "hour",
        F.col("n_events").cast("long").alias("n_events"),
        F.when(trail_n >= 3, F.round(trail_mean, ROUND_TO)).alias(
            "trail_mean"
        ),
        F.when(trail_n >= 3, F.round(trail_std, ROUND_TO)).alias(
            "trail_std"
        ),
        F.when(
            (trail_n >= 3) & (trail_std > 0),
            F.round((F.col("n_events") - trail_mean) / trail_std, ROUND_TO),
        ).alias("z"),
    )


HOURLY_ANOMALY_SQL = """
SELECT event_type, hour,
       CAST(n_events AS BIGINT) AS n_events,
       CASE WHEN tn >= 3 THEN ROUND(tm, 6) END AS trail_mean,
       CASE WHEN tn >= 3 THEN ROUND(ts_, 6) END AS trail_std,
       CASE WHEN tn >= 3 AND ts_ > 0
            THEN ROUND((n_events - tm) / ts_, 6) END AS z
FROM (
    SELECT event_type, hour, n_events,
           COUNT(*) OVER w AS tn,
           AVG(n_events) OVER w AS tm,
           stddev_pop(n_events) OVER w AS ts_
    FROM (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2)
    WINDOW w AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))"""


# ---- event-type transition matrix ------------------------------------

def event_transitions(events: DataFrame) -> DataFrame:
    """(prev_type, event_type, n, p) — the per-user event-sequence
    Markov transition counts and row-normalized probabilities (the
    session-model / next-action primitive).

    Scale shape: ONE window sort per user partition (lag over
    (user_id | ts, event_id)), then a transition-matrix-bounded
    aggregate — |event types|² cells regardless of event volume; the
    normalizing row totals come from a window over the tiny cell
    table."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
            "event_type",
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    row_tot = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(row_tot), ROUND_TO).alias("p"),
    )


EVENT_TRANSITIONS_SQL = """
SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY prev_type),
             6) AS p
FROM (
    SELECT user_id,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type,
           event_type
    FROM events)
WHERE prev_type IS NOT NULL
GROUP BY 1, 2"""


# ---- temporal graph growth -------------------------------------------

def edge_growth(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """(month, new_edges, cum_edges) — customer-supplier edge FIRST
    APPEARANCE per month and the cumulative graph size: the temporal
    view of the relationship graph (when did the network densify?).

    Scale shape: first-seen is one (edge)-keyed min aggregate over the
    order⋈lineitem join (the same join the graph builder runs), the
    month rollup is calendar-bounded, and the cumulative sum windows
    over the MONTH table, never the edge table."""
    first = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.min(F.date_trunc("month", "o_orderdate")).alias("month"))
    )
    per_m = first.groupBy("month").agg(
        F.count("*").cast("long").alias("new_edges")
    )
    w = (
        Window.orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_m.select(
        "month",
        "new_edges",
        F.sum("new_edges").over(w).cast("long").alias("cum_edges"),
    )


EDGE_GROWTH_SQL = """
SELECT month, CAST(new_edges AS BIGINT) AS new_edges,
       CAST(SUM(new_edges) OVER (ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_edges
FROM (
    SELECT month, COUNT(*) AS new_edges FROM (
        SELECT o_custkey, l_suppkey,
               MIN(date_trunc('month', o_orderdate)) AS month
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2)
    GROUP BY 1)"""


# ---- last-touch attribution ------------------------------------------

def attribution_last_touch(events: DataFrame) -> DataFrame:
    """(touch_type, n_purchases, credited_value_cents) — every purchase
    credited to the last non-purchase event type that preceded it in
    the same user's stream (classic last-touch attribution).

    Scale shape: one window sort per user (the same (user | ts, id)
    order every sequence op here uses) carrying a last_value-ignorenulls
    over the masked touch column — no self-join against the purchase
    subset; purchases with no prior touch report as 'none'."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("none")).alias("touch_type"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("credited_value_cents"),
        )
    )


ATTRIBUTION_SQL = """
SELECT COALESCE(touch, 'none') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS credited_value_cents
FROM (
    SELECT event_type, value,
           LAST_VALUE(CASE WHEN event_type <> 'purchase'
                           THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
    FROM events)
WHERE event_type = 'purchase'
GROUP BY 1"""


# ---- cohort retention triangle ---------------------------------------

def cohort_retention(events: DataFrame) -> DataFrame:
    """(cohort_day, day_offset, active_users) — the retention triangle:
    users bucketed by FIRST-SEEN day, then counted distinct on every
    later active day (offset in days).

    Scale shape: first-seen is one (user)-keyed min aggregate; the
    triangle is one join of the (user, day)-distinct activity frame
    against it plus one bounded aggregate — cohorts × offsets cells.
    Day granularity keeps the synthetic 2-month window interesting
    (hour would explode cells, month would collapse to 2)."""
    ud = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ud.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )


COHORT_RETENTION_SQL = """
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, ud.day) AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS active_users
FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) ud
JOIN (SELECT user_id, MIN(day) AS cohort_day
      FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      GROUP BY 1) f
  ON ud.user_id = f.user_id
GROUP BY 1, 2"""


# ---- session duration histogram --------------------------------------

def session_duration_histogram(events: DataFrame) -> DataFrame:
    """(bucket_minutes, n_sessions, mean_events) — session durations in
    power-of-two minute buckets (0 = sub-minute/single-event): the
    engagement-distribution readout over the sessionizer. One more
    bounded aggregate over the session table — the window pass is the
    sessionizer's own."""
    s = sessionize(events)
    dur_min = (
        F.unix_micros(F.col("end_ts").cast("timestamp"))
        - F.unix_micros(F.col("start_ts").cast("timestamp"))
    ) / F.lit(60_000_000.0)
    bucket = F.when(dur_min < 1, F.lit(0)).otherwise(
        F.pow(
            F.lit(2.0), F.floor(F.log2(dur_min)) + 1
        ).cast("long")
    )
    return s.groupBy(bucket.alias("bucket_minutes")).agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.round(F.avg("n_events"), ROUND_TO).alias("mean_events"),
    )


def session_duration_histogram_sql() -> str:
    """Final SELECT (composes after sessionize_sql's CTEs + a wrapped
    session table CTE named ``sess_t``)."""
    dur = "(epoch_us(end_ts) - epoch_us(start_ts)) / 60000000.0"
    return f"""SELECT CASE WHEN {dur} < 1 THEN 0
            ELSE CAST(POWER(2.0, FLOOR(LOG2({dur})) + 1) AS BIGINT)
       END AS bucket_minutes,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(AVG(n_events), {ROUND_TO}) AS mean_events
FROM sess_t GROUP BY 1"""
