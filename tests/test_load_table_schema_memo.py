"""The parquet schema memo behind ``load_table`` and ``stream_events``.

Schema inference is one Spark job per read; the memo runs it once per
file identity ``(path, st_mtime_ns, st_size)`` plus the session confs
that change what inference returns. These tests pin that a repeated
read launches no job, that a rewritten file or a flipped conf
re-infers, and that the memoized schema is exactly what Spark infers.
Jobs are counted per job group after the listener bus drains.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
from pyspark.sql import types as T
from test_ts_shapes import _write, assert_normalized

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.schemas import (
    TPCH_TABLES,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources import (
    tables,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.runner import (
    stream_events,
)

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"schema_memo_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _memo_ts_type(sf: str) -> T.DataType:
    """``ts`` type of the memoized (pre-normalization) events schema."""
    return tables._SCHEMAS[f"{sf}/events.parquet"][1]["ts"].dataType


def test_second_read_of_unchanged_file_runs_no_job(spark, tmp_path):
    sf = _write(tmp_path, pa.timestamp("us"))
    first, n_first = _jobs(spark, lambda: load_table(spark, "events", sf))
    second, n_second = _jobs(spark, lambda: load_table(spark, "events", sf))
    # the counter sees the inference job, so its 0 below means none ran
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema
    assert_normalized(second)


def test_rewrite_in_place_reinfers_every_ts_shape(spark, tmp_path):
    """One path rewritten through all three physical ``ts`` shapes: each
    rewrite is a new file identity, so each read re-infers and
    normalizes to the values ``test_ts_shapes`` expects."""
    shapes = [
        (pa.timestamp("us"), T.TimestampNTZType()),
        (pa.timestamp("ns"), T.LongType()),
        (pa.timestamp("us", "UTC"), T.TimestampType()),
    ]
    for ts_type, raw_type in shapes:
        sf = _write(tmp_path, ts_type)
        df, n = _jobs(spark, lambda: load_table(spark, "events", sf))
        assert n >= 1, f"{ts_type}: rewritten file read through a stale schema"
        assert _memo_ts_type(sf) == raw_type
        assert_normalized(df)


def test_flipping_infer_timestamp_ntz_reinfers(spark, tmp_path):
    sf = _write(tmp_path, pa.timestamp("us"))
    prior = spark.conf.get(NTZ_CONF, None)
    try:
        spark.conf.set(NTZ_CONF, "true")
        load_table(spark, "events", sf)
        assert _memo_ts_type(sf) == T.TimestampNTZType()
        spark.conf.set(NTZ_CONF, "false")
        df, n = _jobs(spark, lambda: load_table(spark, "events", sf))
        assert n >= 1
        assert _memo_ts_type(sf) == T.TimestampType()
        assert_normalized(df)
    finally:
        if prior is None:
            spark.conf.unset(NTZ_CONF)
        else:
            spark.conf.set(NTZ_CONF, prior)


def test_memoized_schema_equals_fresh_inference_for_every_table(spark, sf_dir):
    for name in TPCH_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        load_table(spark, name, sf_dir)
        memo_df, n = _jobs(spark, lambda: load_table(spark, name, sf_dir))
        assert n == 0, name
        fresh = spark.read.parquet(path)
        assert tables._SCHEMAS[path][1] == fresh.schema, name
        if name == "events":
            fresh = tables.normalize_events_ts(fresh)
        assert memo_df.schema == fresh.schema, name


def test_memoized_read_still_repins_session_confs(spark, sf_dir):
    """The re-pin contract of ``test_timezone_pinning`` holds on a memo
    hit: the read that skips inference still pins UTC and nanos-as-long
    before building the DataFrame."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    expected = sorted(load_table(spark, "events", sf_dir).collect())
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        df, n = _jobs(spark, lambda: load_table(spark, "events", sf_dir))
        assert n == 0
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert sorted(df.collect()) == expected
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_repeated_stream_events_launches_no_inference_job(spark, sf_dir):
    first = stream_events(spark, sf_dir)
    again, n = _jobs(spark, lambda: stream_events(spark, sf_dir))
    assert n == 0
    assert again.schema == first.schema
    assert dict(again.dtypes)["ts"] == "timestamp"
    name = f"schema_memo_{uuid.uuid4().hex[:8]}"
    q = (
        again.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        got = sorted(spark.table(name).collect())
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    assert got == sorted(load_table(spark, "events", sf_dir).collect())
