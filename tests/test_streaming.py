"""Structured Streaming twins vs their batch counterparts on sf0.001:
for a fully-arrived dataset the incremental plans must produce the same
aggregates as the batch plans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from flink_graph_spark.functions import sessions as sess_mod
from flink_graph_spark.sources.tables import load_table
from flink_graph_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    streaming_hourly_rollup,
    streaming_sessionize,
)


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF_DIR, "events")


def test_streaming_hourly_rollup_matches_batch(spark, batch_events):
    stream = read_events_stream(spark, SF_DIR)
    got = run_available_now(streaming_hourly_rollup(stream))
    batch = sess_mod.hourly_rollup(batch_events)
    g = {(r["event_type"], r["hour"]): (r["n_events"], r["sum_cents"])
         for r in got.collect()}
    b = {(r["event_type"], r["hour"]): (r["n_events"], r["sum_cents"])
         for r in batch.collect()}
    assert g == b


def test_streaming_sessionize_matches_batch_session_count(spark, batch_events):
    stream = read_events_stream(spark, SF_DIR)
    got = run_available_now(streaming_sessionize(stream))
    batch = sess_mod.sessionize(batch_events)
    g_sessions = {}
    g_events = {}
    for r in got.collect():
        g_sessions[r["user_id"]] = g_sessions.get(r["user_id"], 0) + 1
        g_events[r["user_id"]] = g_events.get(r["user_id"], 0) + r["n_events"]
    b_sessions = {}
    b_events = {}
    for r in batch.collect():
        b_sessions[r["user_id"]] = b_sessions.get(r["user_id"], 0) + 1
        b_events[r["user_id"]] = b_events.get(r["user_id"], 0) + r["n_events"]
    assert g_events == b_events
    assert g_sessions == b_sessions


def test_streaming_schema_is_stable(spark):
    stream = read_events_stream(spark, SF_DIR)
    roll = streaming_hourly_rollup(stream)
    assert roll.columns == [
        "event_type", "hour", "n_events", "sum_cents", "approx_n_users"
    ]
    sess = streaming_sessionize(stream)
    assert sess.columns == [
        "user_id", "n_events", "start_ts", "end_ts", "sum_cents"
    ]


def test_streaming_interval_join_matches_batch_range_join(spark, batch_events):
    """Stream-stream interval join on a fully-arrived input equals the
    batch range join; inner-join append mode emits each pair once."""
    from flink_graph_spark.streaming.events import streaming_click_purchase_join

    stream = read_events_stream(spark, SF_DIR)
    got = run_available_now(
        streaming_click_purchase_join(stream), output_mode="append"
    )
    e = batch_events
    a = e.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id", "ts AS click_ts"
    )
    b = e.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id AS p_user_id", "ts AS purchase_ts"
    )
    batch = a.join(
        b,
        (a.user_id == b.p_user_id)
        & (b.purchase_ts >= a.click_ts)
        & (b.purchase_ts <= a.click_ts + F.expr("INTERVAL 6 HOURS")),
    )
    g = {(r["click_id"], r["purchase_id"]) for r in got.collect()}
    bt = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    assert g == bt and len(g) == got.count()


def test_streaming_degrees_accumulates_across_batches(spark, tmp_path):
    """Incremental degree maintenance over a multi-file edge stream must
    converge to the batch out-degrees."""
    from flink_graph_spark.sources.graphs import golden_graph
    from flink_graph_spark.streaming.graph_stream import (
        read_edges_stream,
        streaming_out_degrees,
    )

    g = golden_graph(spark)
    # three explicit file drops -> three micro-batches at 1 file/trigger
    path = str(tmp_path / "edges")
    for i, cond in enumerate(["src <= 2", "src = 3", "src >= 4"]):
        g.edges.filter(cond).coalesce(1).write.mode("append").parquet(path)
    stream = read_edges_stream(spark, path, max_files_per_trigger=1)
    snap = run_available_now(streaming_out_degrees(stream), "complete")
    got = {r["id"]: r["degree"] for r in snap.collect()}
    assert got == {1: 2, 2: 1, 3: 2, 4: 1, 5: 1}


def test_streaming_quality_by_source_matches_batch(spark):
    from flink_graph_spark.functions import text as text_mod
    from flink_graph_spark.streaming import docs as docs_stream
    from flink_graph_spark.streaming import events as stream_mod
    from flink_graph_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    sf_dir = "/root/testdata/sf0.001"
    stream = docs_stream.read_docs_stream(spark, sf_dir)
    snap = stream_mod.run_available_now(
        docs_stream.streaming_quality_by_source(stream),
        output_mode="complete",
        state_partitions=4,
    )
    got = {r["source"]: (r["n_docs"], r["n_keep"]) for r in snap.collect()}
    batch = (
        text_mod.quality_filters(load_table(spark, sf_dir, "documents"))
        .join(
            load_table(spark, sf_dir, "documents").select("doc_id", "source"),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
        )
    )
    want = {r["source"]: (r["n_docs"], r["n_keep"]) for r in batch.collect()}
    assert got == want
