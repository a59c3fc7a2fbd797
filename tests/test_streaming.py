"""Batch ≡ stream parity (SURVEY.md §5.3): replay the events table as a
file-source stream, assert streaming results equal the batch plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.edge_trigger import (
    rising_edges,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.runner import (
    run_to_memory,
    stream_events,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.stateful import (
    streaming_rising_edges,
)

THRESHOLD = 150.0


def test_streaming_edge_trigger_matches_batch_lag(spark, sf_dir):
    stream = stream_events(spark, sf_dir)
    q = run_to_memory(streaming_rising_edges(stream, THRESHOLD), "edges_out")
    try:
        got = {
            (r.user_id, r.event_id): r.episode
            for r in spark.sql("SELECT * FROM edges_out").collect()
        }
    finally:
        q.stop()
    events = load_table(spark, "events", sf_dir)
    batch = rising_edges(
        events, F.col("value") > THRESHOLD, ["user_id"], "event_id", "alarm"
    ).filter(F.col("alarm_edge"))
    want = {
        (r.user_id, r.event_id): r.alarm_episode for r in batch.collect()
    }
    assert got == want


def test_streaming_session_window(spark, sf_dir):
    """session_window (native gap-based sessionization in streaming) —
    per-user session counts must cover every event exactly once."""
    stream = stream_events(spark, sf_dir)
    sess = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "60 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    q = run_to_memory(sess, "sess_out", output_mode="complete")
    try:
        rows = spark.sql("SELECT * FROM sess_out").collect()
    finally:
        q.stop()
    events = load_table(spark, "events", sf_dir)
    assert sum(r.n_events for r in rows) == events.count()
    # session count per user must equal the batch lag/cumsum form
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.relational import (
        sessionize,
    )
    batch_sessions = sessionize(spark, sf_dir).groupBy("user_id").count()
    stream_sessions = {}
    for r in rows:
        stream_sessions[r.user_id] = stream_sessions.get(r.user_id, 0) + 1
    assert {r.user_id: r["count"] for r in batch_sessions.collect()} == stream_sessions


def test_available_now_trigger_drains_and_stops(spark, sf_dir):
    """Trigger.AvailableNow: the operational batch-drain mode — process
    everything currently available in bounded micro-batches, then stop
    on its own (no processAllAvailable/stop choreography)."""
    stream = stream_events(spark, sf_dir).select("event_id")
    q = (
        stream.writeStream.format("memory")
        .queryName("drain_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # stopped by itself after draining
    got = spark.sql("SELECT count(*) AS n FROM drain_out").first().n
    want = load_table(spark, "events", sf_dir).count()
    assert got == want
    # multiple micro-batches actually ran (maxFilesPerTrigger respected)
    assert len(q.recentProgress) > 1
