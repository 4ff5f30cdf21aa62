"""Structured Streaming surface over the ``events`` table.

The reference is batch-only (pure DataSet; SURVEY.md §2.10 — no
streaming, watermarks, or windows exist in andralungu/flink-graph), so
this module is a north-star extension, not a parity item: the same
event-analytics queries as ``functions.sessions`` expressed as
incremental streaming plans.

Design (100 TB / always-on posture):
* Source: file-stream over the events parquet (schema pinned — a
  streaming reader never infers), `maxFilesPerTrigger` bounds batch
  size; in production this would be a Kafka source with identical
  downstream plans.
* Event-time correctness: watermark on ``ts`` bounds state for both the
  tumbling-window rollup and the session windows; late rows beyond the
  watermark are dropped deterministically.
* Sessionization uses ``F.session_window`` (state-store backed, merges
  on overlap) — the streaming twin of the batch lag()-gap plan.
* Tests drive it with ``trigger(availableNow=True)`` + memory sink and
  compare against the batch twins — the plans themselves are identical
  for a fully-arrived dataset.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string,"
    " value double, props string"
)

SESSION_GAP = "30 minutes"


def _stage_dir(sf_dir: str) -> str:
    """The file-stream source requires a directory; the testdata keeps one
    parquet per table in a shared dir — stage a per-sf dir holding a
    symlink to events.parquet (testdata itself is read-only).
    """
    import hashlib
    import os

    stage = os.path.join(
        tempfile.gettempdir(),
        f"fgs_events_{hashlib.sha1(sf_dir.encode()).hexdigest()[:10]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return stage


def _ts_micros_expr(sf_dir: str):
    """Column expr converting the raw int64 ``ts`` to epoch-micros.

    A streaming reader pins its schema up front ("ts long"), so the
    parquet TIMESTAMP unit the driver generated the testdata with must
    be probed from the file footer (driver rounds have shipped both
    TIMESTAMP(NANOS) and timestamp[us]); the batch loader
    (``sources.tables.load_table``) makes the same distinction from the
    materialized dtype instead.
    """
    import pyarrow.parquet as pq

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    unit = getattr(t, "unit", "ns")  # plain int64 column → driver's nanos
    to_us = {"s": "ts * 1000000", "ms": "ts * 1000", "us": "ts", "ns": "ts div 1000"}
    return F.expr(to_us[unit])


FILES_PER_TRIGGER = 1


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events parquet with the raw-int64→timestamp
    normalization of ``sources.tables.load_table`` applied streaming-side.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(_stage_dir(sf_dir))
    )
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC so
    # the instants match the batch loaders' NTZ values
    return raw.withColumn("ts", F.timestamp_micros(_ts_micros_expr(sf_dir)))


ROLLUP_WATERMARK = "1 hour"


def streaming_hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1h window per event_type — the incremental twin of
    ``functions.sessions.hourly_rollup``. Watermark bounds window state;
    approx_count_distinct replaces exact distinct (exact per-key distinct
    over an unbounded stream would hold every user id in state).
    """
    return (
        events.withWatermark("ts", ROLLUP_WATERMARK)
        .groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
            F.approx_count_distinct("user_id").alias("approx_n_users"),
        )
        .select(
            "event_type", F.col("w.start").alias("hour"),
            "n_events", "sum_cents", "approx_n_users",
        )
    )


SESSION_WATERMARK = "1 hour"


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Gap-based session windows per user (state-store merged) — the
    incremental twin of ``functions.sessions.sessionize``.

    Watermark contract (standard streaming semantics, probed): the
    snapshot equals the batch sessionizer only while event-time
    disorder stays within ``SESSION_WATERMARK``. An event older than
    max(seen ts) − watermark arriving in a later micro-batch is late
    data and is dropped by design — a probe with a 2250-era event
    followed by 1969-era events loses exactly the pre-epoch session.
    The batch twin has no watermark and keeps it.
    """
    return (
        events.withWatermark("ts", SESSION_WATERMARK)
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        )
        .select(
            "user_id", "n_events", "start_ts", "end_ts", "sum_cents",
        )
    )


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming query to completion over the currently-available
    input (one availableNow pass, memory sink) and return the result as
    a batch DataFrame — the test/driver harness for the plans above.

    ``state_partitions`` sizes the state-store exchange (a streaming
    query pins shuffle-partition count into its checkpoint at first
    start). Size it to key cardinality × throughput, not input bytes —
    a 150-key running total doesn't need one state store per core.
    """
    import shutil

    spark = stream_df.sparkSession
    name = f"snap_{uuid.uuid4().hex[:12]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # One-shot snapshot: the checkpoint has no value past termination
    # (the memory sink dies with the session), so remove it afterwards
    # — a full gate+bench run creates hundreds of these and leaking
    # them accumulates scratch dirs (r3 verdict item 2).
    ckpt = tempfile.mkdtemp(prefix="fgs_ckpt_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


DEDUP_WATERMARK = "2 hours"


def streaming_dedup_keys(events: DataFrame) -> DataFrame:
    """Stateful streaming exact-dedup: emit each (user_id, event_type)
    key once, on first sight — the streaming twin of batch
    ``SELECT DISTINCT``. Only the KEYS are emitted (not the winning
    row) so the result is deterministic under any partitioning/arrival
    order; the batch oracle is a plain DISTINCT.

    State: one entry per distinct key. ``dropDuplicates`` state never
    expires without a watermark; the watermark on ts lets Spark drop
    key-state older than the horizon — at 100 TB stream scale use
    ``dropDuplicatesWithinWatermark`` semantics (bounded state) and
    accept re-emission beyond the horizon, or a compact key-fingerprint
    state. Dedup here is exact within the run.
    """
    return (
        events.withWatermark("ts", DEDUP_WATERMARK)
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


CLICK_PURCHASE_HORIZON = "6 hours"
CLICK_PURCHASE_WATERMARK = "12 hours"


def streaming_click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each click event joins the SAME
    user's purchase events landing within ``CLICK_PURCHASE_HORIZON`` after it — the
    Structured Streaming twin of Flink's DataStream interval join (the
    reference prototype is batch-only; this is the §2.10 streaming
    surface's join coverage).

    Both sides carry watermarks and the join predicate carries the
    time-range condition — that pair is what lets Spark bound the join
    state: a buffered click can be evicted once the purchase-side
    watermark passes click_ts + horizon, and vice versa. Inner join →
    append mode, rows are emitted exactly once; on a fully-arrived
    availableNow input the result equals the batch range join.

    At 100 TB stream scale the state size is (rate × horizon) per side,
    partitioned by user_id — the equality key keeps the join a
    hash-partitioned state lookup, never a broadcast or cross product.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", CLICK_PURCHASE_WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.round(F.col("value") * 100, 0).cast("long").alias("purchase_cents"),
        )
        .withWatermark("purchase_ts", CLICK_PURCHASE_WATERMARK)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {CLICK_PURCHASE_HORIZON}")
        ),
    ).select(
        "user_id", "click_id", "purchase_id",
        "click_ts", "purchase_ts", "purchase_cents",
    )


def streaming_nation_counts(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension on user_id = c_custkey, then aggregates per
    nation — the canonical streaming fact-to-dim pattern. The static
    side is planned per micro-batch (broadcast for a dim table); no
    state is kept for the join itself, only for the aggregation.
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    return (
        events.join(dim, "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "sum_cents"
            ),
        )
    )
