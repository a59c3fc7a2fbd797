"""Scale-path tests: partitioned persistence with partition pruning,
streaming crowd-pipeline parity (batch ≡ stream for
the flagship query)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.historical import (
    events_with_day,
    read_partitioned,
    write_partitioned,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.relational import (
    CROWD_THRESHOLD,
    VALUE_THRESHOLD,
    crowded_frames,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.runner import (
    run_to_memory,
    stream_events,
)


def test_partitioned_write_prunes(spark, sf_dir):
    events = events_with_day(load_table(spark, "events", sf_dir))
    with tempfile.TemporaryDirectory() as tmp:
        write_partitioned(events, tmp, ["day"])
        back = read_partitioned(spark, tmp)
        one_day = back.filter(F.col("day") == "2024-01-05")
        plan = one_day._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the scan (directory pruning)
        assert "PartitionFilters" in plan and "2024-01-05" in plan
        want = events.filter(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == "2024-01-05"
        ).count()
        assert one_day.count() == want


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
