"""Keyed streaming state: the alarm edge-trigger (SURVEY.md W2, §4.2).

Reference: module-global booleans (``Fire_Reported``/``Alarm_Status``,
main.py:12-23) flip per frame; the alarm fires on the False→True
transition and re-arms on True→False (main.py:171-185). The two
inconsistent trigger blocks (main.py:180-185 vs 264-266) are
reconciled to: fire once per rising edge.

Streaming form: ``applyInPandasWithState`` keyed by camera/user —
per-key boolean state survives micro-batch boundaries, which is
exactly what the reference's globals cannot do across restarts. The
batch twin is ``operators/edge_trigger.py`` (lag window); the parity
test replays the same rows both ways.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EDGE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("episode", T.LongType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("prev", T.BooleanType(), True),
        T.StructField("episodes", T.LongType(), True),
        # newest-ever event time — persisted so a late out-of-order
        # batch never moves the idle-eviction deadline backward
        T.StructField("max_ts_ms", T.LongType(), True),
    ]
)


def _edge_fn(threshold: float, ttl_ms: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # camera idle past the TTL: drop its cell. If it comes back
            # it restarts un-armed (prev=False) — one duplicate alarm if
            # the signal was still high across the gap, which is the
            # documented trade for a bounded store over episodic keys.
            state.remove()
            return
        prev, episodes, max_ts_ms = (
            state.get if state.exists else (False, 0, 0)
        )
        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("event_id")
            for event_id, value in zip(pdf["event_id"], pdf["value"]):
                cond = bool(value > threshold)
                if cond and not prev:
                    episodes += 1
                    out_rows.append((user_id, int(event_id), float(value), episodes))
                prev = cond
            if len(pdf):
                max_ts_ms = max(
                    max_ts_ms, int(pdf["ts"].max().value // 1_000_000)
                )
        state.update((prev, episodes, max_ts_ms))
        # re-arm on activity: the deadline restarts from this key's
        # newest-ever event, so only genuinely idle cameras are evicted.
        # Event-time (not processing-time) deliberately: a pending
        # ProcessingTimeTimeout makes MicroBatchExecution's
        # shouldRunAnotherBatch always-true — the query busy-loops
        # empty micro-batches forever. Watermark-driven timeouts only
        # fire when data moves the stream forward.
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts_ms, wm_ms + 1) + ttl_ms)
        yield pd.DataFrame(
            out_rows, columns=["user_id", "event_id", "value", "episode"]
        )

    return fn


def streaming_rising_edges(
    events: DataFrame,
    threshold: float = 150.0,
    idle_ttl_ms: int = 86_400_000,
    watermark: str = "35 days",
) -> DataFrame:
    """Rising-edge alarms over an unbounded event stream, one state cell
    per user (camera analog). State is O(1) per key — at 100 TB /
    millions of cameras this is a hash-partitioned state store, not a
    global sort like the batch window form. A camera whose newest event
    falls ``idle_ttl_ms`` behind the watermark is evicted (it restarts
    un-armed on return), so episodic cameras don't accumulate cells
    forever. The wide default watermark is replay-safe for the test
    harness (chunks are event_id-ordered, ts is not); production
    streams with near-ordered event time should tighten it."""
    return (
        events.select("ts", "user_id", "event_id", "value")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _edge_fn(threshold, idle_ttl_ms),
            outputStructType=EDGE_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
