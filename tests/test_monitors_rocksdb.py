"""RocksDB state-store parity for the stateful crowd monitors (zone
loitering, origin-destination flows): the same chunked replay must
produce identical output under the default (HDFS-backed) and RocksDB
providers — array-free but mixed-type state rows either round-trip
the provider encoding exactly or fail here, not in production."""

from __future__ import annotations

import pytest
from conftest import rocksdb_state_store

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.loiter_alert import (
    streaming_loiter_alerts,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.od_tracker import (
    streaming_od_tracker,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.runner import (
    run_to_memory,
    stream_events,
)

_OPS = {
    "loiter": (
        streaming_loiter_alerts,
        lambda r: (r.user_id, r.zone_x, r.zone_y, r.run_start_us,
                   r.alarm_ts_us),
    ),
    "od": (
        streaming_od_tracker,
        lambda r: (r.user_id, r.from_x, r.from_y, r.to_x, r.to_y, r.ts_us),
    ),
}


@pytest.mark.parametrize("name", sorted(_OPS))
def test_monitor_output_identical_under_rocksdb(spark, sf_dir, name):
    op, key = _OPS[name]

    def run(sink: str) -> set:
        q = run_to_memory(op(stream_events(spark, sf_dir)), sink)
        try:
            return {key(r) for r in spark.table(sink).collect()}
        finally:
            q.stop()

    default = run(f"{name}_default_out")
    with rocksdb_state_store(spark):
        rocks = run(f"{name}_rocksdb_out")
    assert rocks == default
    assert default, f"{name}: empty output proves nothing"
