"""RocksDB state store backend (SURVEY.md §2.9): the same stateful
operator runs under RocksDBStateStoreProvider — the production backend
for state larger than executor heap — and matches the default
HDFS-backed provider's answer. The operator is
streaming/stateful.py's applyInPandasWithState rising-edge trigger;
the state BACKEND ships inside Spark and is covered here.
"""

from __future__ import annotations

import datetime as dt
import os

from conftest import events_chunk_schema, write_events_chunk

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.stateful import (
    streaming_rising_edges,
)

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

T0 = dt.datetime(2024, 1, 1)


def _run(spark, src, qname):
    stream = (
        spark.readStream.schema(events_chunk_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
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
    default = _run(spark, src, "hdfs_state_out")
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        rocks = _run(spark, src, "rocksdb_state_out")
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prev)
    assert rocks == default
    assert rocks == {(1, 1): 1, (2, 3): 1, (1, 4): 2, (2, 6): 2}


def test_rocksdb_heavy_hitters_matches_default(spark, tmp_path):
    """The Space-Saving cells (array-typed state) survive the RocksDB
    provider identically: same snapshot as the HDFS-backed default
    over the same chunked replay."""
    from collections import Counter

    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.heavy_hitters import (
        heavy_hitters_snapshot,
        streaming_heavy_hitters,
    )

    src = str(tmp_path / "hh_src")
    os.makedirs(src)
    rows = [
        (uid, eid, 1.0, T0)
        for eid, uid in enumerate([7] * 9 + [3] * 5 + [11] * 3 + [2, 5, 8])
    ]
    write_events_chunk(spark, src, "f1", rows[0::2])
    write_events_chunk(spark, src, "f2", rows[1::2])

    def run(qname):
        stream = (
            spark.readStream.schema(events_chunk_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_heavy_hitters(stream, capacity=16, n_cells=2)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .start()
        )
        q.processAllAvailable()
        try:
            return [
                (r["rank"], r["user_id"], r["est"], r["err"])
                for r in heavy_hitters_snapshot(
                    spark.sql(f"select * from {qname}"), top=4
                ).collect()
            ]
        finally:
            q.stop()

    default = run("hh_state_hdfs")
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        rocks = run("hh_state_rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prev)
    assert rocks == default
    true = Counter(r[0] for r in rows)
    want = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    assert [(u, e) for _, u, e, _ in rocks] == want


def test_rocksdb_k_anon_gate_matches_default(spark, tmp_path):
    """The privacy gate's held-backlog state (two capped long arrays +
    flag) survives the RocksDB provider identically: same released set
    as the HDFS-backed default over the same chunked replay, including
    a class that crosses its thresholds only in the second chunk."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.k_anon_gate import (
        streaming_k_anon_gate,
    )

    src = str(tmp_path / "gate_src")
    os.makedirs(src)
    # band 0 (value 7.5): 6 rows / 3 users -> opens mid-chunk-2;
    # band 1 (value 107.5): 4 rows / 1 user -> never opens
    rows = (
        [(400 + i % 3, i, 7.5, T0) for i in range(6)]
        + [(500, 10 + i, 107.5, T0) for i in range(4)]
    )
    write_events_chunk(spark, src, "f1", rows[0::2])
    write_events_chunk(spark, src, "f2", rows[1::2])

    def run(tag):
        sink = str(tmp_path / f"out_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        stream = (
            spark.readStream.schema(events_chunk_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_k_anon_gate(stream, k=5, l_div=3)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r["value_band"], r["event_id"], r["user_id"])
            for r in spark.read.parquet(sink).collect()
        }

    default = run("hdfs")
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        rocks = run("rocks")
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prev)
    assert rocks == default
    assert {e for _b, e, _u in rocks} == set(range(6))  # band 0 only


def test_rocksdb_anomaly_gate_matches_default(spark, tmp_path):
    """The anomaly gate's cell state (baseline ints + pending-hour
    arrays + an armed event-time timeout) survives the RocksDB provider
    identically: same finalized-hour score rows as the HDFS-backed
    default, including the zero-filled gap hour."""
    from test_streaming_anomaly_gate import _drain, _rows

    src = str(tmp_path / "anom_src")
    os.makedirs(src)
    rows = _rows()
    half = len(rows) // 2
    write_events_chunk(spark, src, "f1", rows[:half])
    write_events_chunk(spark, src, "f2", rows[half:])

    def run(tag):
        out = str(tmp_path / f"anom_out_{tag}")
        _drain(spark, src, str(tmp_path / f"anom_ckpt_{tag}"), out)
        return {
            tuple(r[c] for c in ("hour_start_ms", "hod", "cnt",
                                 "baseline_n", "dev", "thr",
                                 "is_anomaly"))
            for r in spark.read.parquet(out).collect()
        }

    default = run("hdfs")
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        rocks = run("rocks")
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prev)
    assert rocks == default and len(rocks) == 10
