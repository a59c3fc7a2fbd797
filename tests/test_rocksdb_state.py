"""RocksDB state store backend (SURVEY.md §2.9): the same stateful
operator runs under RocksDBStateStoreProvider — the production backend
for state larger than executor heap — and matches the default
HDFS-backed provider's answer. Two operators run under both providers:

- streaming/stateful.py's applyInPandasWithState rising-edge trigger
  (scalar per-user state);
- streaming/pipeline.py's crowd pipeline, the ``crowd_stream``
  benchmark workload: per-frame box arrays carried across
  micro-batches and an armed EventTimeTimeout that evicts frames once
  the watermark passes them.

The state BACKEND ships inside Spark and is covered here.
"""

from __future__ import annotations

import datetime as dt
import os

from conftest import events_chunk_schema, rocksdb_state_store, write_events_chunk
from pyspark.sql import functions as F

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.detections import (
    parse_detections,
    synthesize_raw,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.nms import (
    nms,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.pipeline import (
    streaming_crowd_alerts,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.stateful import (
    streaming_rising_edges,
)

T0 = dt.datetime(2024, 1, 1)


def _rising_edges(spark, stream, tag, tmp_path):
    qname = f"edges_{tag}"
    q = (
        streaming_rising_edges(stream, threshold=150.0)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    try:
        return {
            (r.user_id, r.event_id): r.episode
            for r in spark.sql(f"select * from {qname}").collect()
        }
    finally:
        q.stop()


def _crowd_alerts(spark, stream, tag, tmp_path):
    """Latest verdict per frame, plus the frames still held in state
    when the replay drains (the evicted ones are gone)."""
    got = {}

    def sink(df, _bid):
        for r in df.collect():
            got[(r.camera_id, r.frame_id)] = (r.n_persons, r.crowded)

    q = streaming_crowd_alerts(
        stream,
        sink,
        watermark="1 hour",
        frame_ttl_ms=30 * 60_000,
        checkpoint_dir=str(tmp_path / f"crowd_ckpt_{tag}"),
    )
    try:
        q.processAllAvailable()
        held = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()
    return got, held


def _run(spark, src, pipeline, tmp_path):
    """``pipeline`` over the chunked replay in ``src``, once under the
    default provider and once under RocksDB; the two answers must be
    equal. Returns the RocksDB answer."""
    def once(tag):
        stream = (
            spark.readStream.schema(events_chunk_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return pipeline(spark, stream, tag, tmp_path)

    default = once("hdfs")
    with rocksdb_state_store(spark):
        rocks = once("rocksdb")
    assert rocks == default
    return rocks


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two chunks so per-key state genuinely crosses micro-batches
    write_events_chunk(
        spark, src, "f1",
        [(1, 1, 200.0, T0), (1, 2, 100.0, T0), (2, 3, 500.0, T0)],
    )
    write_events_chunk(
        spark, src, "f2",
        [(1, 4, 300.0, T0), (2, 5, 100.0, T0), (2, 6, 400.0, T0)],
    )
    rocks = _run(spark, src, _rising_edges, tmp_path)
    assert rocks == {(1, 1): 1, (2, 3): 1, (1, 4): 2, (2, 6): 2}


def test_rocksdb_crowd_alerts_matches_default(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # camera 1's frames get boxes in both chunks (event_id % 50 is the
    # frame), so their box arrays cross micro-batches; camera 2's
    # frames appear only in the first chunk, two hours before the
    # second, so the watermark passes their timeout and evicts them.
    late = T0 + dt.timedelta(hours=2)
    write_events_chunk(
        spark, src, "f1",
        [(1, e, 1.0, T0) for e in range(200)]
        + [(2, e, 1.0, T0) for e in range(1000, 1100)],
    )
    write_events_chunk(
        spark, src, "f2", [(1, e, 1.0, late) for e in range(200, 400)]
    )
    got, held = _run(spark, src, _crowd_alerts, tmp_path)
    # batch twin: the same detections through the batch NMS operator
    det = parse_detections(synthesize_raw(spark.read.parquet(src)))
    kept = nms(det, ["camera_id", "frame_id"], order_cols=["event_id"])
    want = {
        (r.camera_id, r.frame_id): r.n
        for r in kept.groupBy("camera_id", "frame_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {k: n for k, (n, _) in got.items()} == want
    assert any(crowded for _, crowded in got.values())
    # only camera 1's frames are still held; camera 2's were evicted
    assert held == sum(1 for cam, _ in want if cam == 1) < len(want)
