"""Loader robustness across physical parquet shapes of events.ts.

The driver regenerates testdata between rounds and has already shipped
two different physical types for the same logical column
(TIMESTAMP(NANOS) in r1, tz-naive timestamp[us] in r2 — the r2 switch
broke every ``ts.cast("long")`` path and zeroed the round's bench).
This test writes the same rows in all three shapes and asserts
``load_table`` normalizes each to identical session-local TIMESTAMP
values, so the next regeneration can't reintroduce the breakage.
"""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)

ROWS = [
    (1, dt.datetime(2024, 1, 2, 3, 4, 5, 123456), 10, "click", 1.5, "{}"),
    (2, dt.datetime(2024, 6, 7, 8, 9, 10, 654321), 11, "error", 2.5, "{}"),
    # pre-epoch: nanos→micros conversion must FLOOR, not truncate
    (3, dt.datetime(1969, 12, 31, 23, 59, 58, 700001), 12, "view", 3.5, "{}"),
]


def _write(tmp_path, ts_type) -> str:
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in ROWS]).cast(ts_type),
            "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in ROWS]),
            "value": pa.array([r[4] for r in ROWS], pa.float64()),
            "props": pa.array([r[5] for r in ROWS]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    "ts_type",
    [
        pa.timestamp("us"),          # r2+ driver shape → TIMESTAMP_NTZ
        pa.timestamp("ns"),          # r1 driver shape → nanos-as-long
        pa.timestamp("us", "UTC"),   # tz-aware → native TIMESTAMP
    ],
    ids=["ntz_us", "nanos", "ltz_us"],
)
def test_load_table_normalizes_all_ts_shapes(spark, tmp_path, ts_type):
    assert_normalized(load_table(spark, "events", _write(tmp_path, ts_type)))


def assert_normalized(df) -> None:
    """``df`` is the events table read back from ``_write``: session-local
    TIMESTAMP holding exactly ``ROWS``' instants."""
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == [r[1] for r in ROWS]
    # epoch arithmetic — the exact call path that broke in round 2
    secs = sorted(
        r.epoch for r in df.selectExpr("cast(ts as long) as epoch").collect()
    )
    assert secs == sorted(
        math.floor(r[1].replace(tzinfo=dt.timezone.utc).timestamp()) for r in ROWS
    )
