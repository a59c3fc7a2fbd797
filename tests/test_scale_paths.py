"""Scale-path tests: streaming crowd-pipeline parity (batch ≡ stream
for the flagship query)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.relational import (
    CROWD_THRESHOLD,
    VALUE_THRESHOLD,
    crowded_frames,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.runner import (
    run_to_memory,
    stream_events,
)


def test_streaming_crowded_frames_matches_batch(spark, sf_dir):
    """Flagship pipeline under readStream: identical DataFrame logic,
    event-time 1h windows — results must equal the batch plan."""
    stream = stream_events(spark, sf_dir)
    agg = (
        stream.filter(
            (F.col("value") > VALUE_THRESHOLD) & (F.col("event_type") == "click")
        )
        .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
        .agg(F.count("*").alias("n_detections"))
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_hour"
            ),
            "n_detections",
            (F.col("n_detections") > CROWD_THRESHOLD).alias("crowded"),
        )
    )
    q = run_to_memory(agg, "crowd_stream", output_mode="complete")
    try:
        got = {
            (r.user_id, r.bucket_hour): (r.n_detections, r.crowded)
            for r in spark.sql("SELECT * FROM crowd_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.bucket_hour): (r.n_detections, r.crowded)
        for r in crowded_frames(spark, sf_dir).collect()
    }
    assert got == want
