"""Streaming hot-cell alerts (streaming/hot_cell_alert.py): the alert
set equals the batch hot set, exactly once per (cell, window)."""

from __future__ import annotations

from datetime import datetime, timezone

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.crowd_density import (
    STREAM_HOT_MIN,
    batch_crowd_density,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.hot_cell_alert import (
    DAY_MS,
    streaming_hot_cell_alerts,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.runner import (
    run_to_memory,
    stream_events,
)


def _win_ms(win_start: str) -> int:
    dt = datetime.strptime(win_start, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=timezone.utc
    )
    return int(dt.timestamp() * 1000)


def _batch_hot_set(spark, sf_dir) -> set[tuple[int, int, int]]:
    return {
        (r.cell_x, r.cell_y, _win_ms(r.win_start))
        for r in batch_crowd_density(
            load_table(spark, "events", sf_dir)
        ).collect()
        if r.hot
    }


def test_alert_set_matches_batch_hot_set(spark, sf_dir):
    q = run_to_memory(
        streaming_hot_cell_alerts(stream_events(spark, sf_dir)),
        "hot_alerts",
    )
    try:
        alerts = spark.sql("SELECT * FROM hot_alerts").collect()
    finally:
        q.stop()
    got = {(r.cell_x, r.cell_y, r.win_start_ms) for r in alerts}
    # exactly once per (cell, window)
    assert len(got) == len(alerts)
    # every alert fired AT the crossing count, not after
    assert all(r.n_at_alert == STREAM_HOT_MIN for r in alerts)
    want = _batch_hot_set(spark, sf_dir)
    assert got == want
    assert want, "no hot cells at this scale would make the test vacuous"


def test_idle_cell_ttl_bounds_state(spark, sf_dir):
    """A tight TTL drops idle cells without losing in-window alerts
    for live ones: with TTL = one window, replay still produces the
    full alert set (eviction only ever happens behind the event-time
    frontier the replay keeps advancing)."""
    q = run_to_memory(
        streaming_hot_cell_alerts(
            stream_events(spark, sf_dir), ttl_ms=DAY_MS
        ),
        "hot_alerts_ttl",
    )
    try:
        alerts = spark.sql("SELECT * FROM hot_alerts_ttl").collect()
    finally:
        q.stop()
    got = {(r.cell_x, r.cell_y, r.win_start_ms) for r in alerts}
    assert got == _batch_hot_set(spark, sf_dir)


T0 = __import__("datetime").datetime(2024, 1, 1)


def _chunk_rows(user_id, n, start_eid):
    return [
        (user_id, start_eid + i, 1.0, T0) for i in range(n)
    ]


def test_crossing_survives_checkpoint_restart(spark, tmp_path):
    """A cell 3/5 of the way to hot when the query dies must alert
    exactly once (at count 5) after restart — the window ledger
    survived; nothing is re-emitted or double-counted."""
    import os

    from conftest import events_chunk_schema, write_events_chunk

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    write_events_chunk(
        spark, src, "f1", _chunk_rows(7, 3, 1) + _chunk_rows(9, 2, 100)
    )
    emissions: list[tuple] = []

    def start():
        stream = (
            spark.readStream.schema(events_chunk_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(df, _bid):
            for r in df.collect():
                emissions.append(
                    (r.cell_x, r.cell_y, r.win_start_ms, r.n_at_alert)
                )

        return (
            streaming_hot_cell_alerts(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert emissions == []  # 3 < 5: nothing fired before the crash
    write_events_chunk(spark, src, "f2", _chunk_rows(7, 2, 10))
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert len(emissions) == 1 and emissions[0][3] == STREAM_HOT_MIN


def test_rocksdb_alert_ledger_matches_default(spark, tmp_path):
    """The array-typed window ledger survives the RocksDB provider
    identically over the same chunked replay."""
    import os

    from conftest import events_chunk_schema, rocksdb_state_store, write_events_chunk

    src = str(tmp_path / "src")
    os.makedirs(src)
    write_events_chunk(
        spark, src, "f1", _chunk_rows(7, 3, 1) + _chunk_rows(9, 2, 100)
    )
    write_events_chunk(
        spark, src, "f2", _chunk_rows(7, 2, 10) + _chunk_rows(9, 1, 200)
    )

    def run(qname):
        stream = (
            spark.readStream.schema(events_chunk_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_hot_cell_alerts(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        try:
            return {
                (r.cell_x, r.cell_y, r.win_start_ms, r.n_at_alert)
                for r in spark.sql(f"select * from {qname}").collect()
            }
        finally:
            q.stop()

    default = run("hot_alert_hdfs")
    with rocksdb_state_store(spark):
        rocks = run("hot_alert_rocksdb")
    assert rocks == default
    assert len(default) == 1  # user 7's cell crossed; user 9's never did
