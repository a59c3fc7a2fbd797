"""Backpressure tests (SURVEY.md §2.9 'Backpressure').

The reference loop has no backpressure — it blocks on inference and
silently drops frames (main.py:145-149). Our mapping bounds micro-batch
size instead: maxFilesPerTrigger on the file source (tested here, the
file-source form of Kafka's maxOffsetsPerTrigger) so each
micro-batch is a bounded unit of work.
"""

from __future__ import annotations

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)


def test_max_files_per_trigger_bounds_microbatches(spark, sf_dir, tmp_path):
    # split events into 4 files; 1 file per trigger → ≥4 micro-batches,
    # none larger than the biggest single file
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_split")
    events.repartition(4).write.parquet(src)
    total = events.count()

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.groupBy().count()
        .writeStream.format("memory")
        .queryName("bp_counts")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [
            p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0
        ]
    finally:
        q.stop()
    assert sum(batches) == total
    assert len(batches) >= 4  # one file per trigger, not one giant batch
    assert max(batches) < total  # no unbounded micro-batch
