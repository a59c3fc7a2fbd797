"""Streaming hot-cell alert: alarm once per (cell, window) crossing.

The spatial composition of the reference's alarm-once rising edge
(main.py:180-185 — fire the alarm when the condition BECOMES true,
not on every hot frame): per grid cell and event-time tumbling
window, emit exactly ONE alert row the moment the cell's event count
crosses HOT_MIN_EVENTS, then stay silent for the rest of that window.
``streaming/crowd_density.py`` is the full per-window ledger; this
operator is its alerting edge — a security desk wants one page per
hot place per window, at crossing time, not a table to poll.

State per cell is a small parallel-array ledger of open windows
(win_start, count, alerted).
Windows whose end has passed the watermark are evicted on every
invocation, so state per cell is (windows in flight) entries and the
cell key space itself is world-bounded. Idle cells are dropped by an
event-time TTL (the stateful.py convention — processing-time timeouts
busy-loop MicroBatchExecution).

Exactness: the alert SET equals the batch hot set — an alert for
(cell, window) is emitted iff the final count reaches the threshold —
because counting is exact integer arithmetic and eviction happens
only behind the watermark (every event for a live window is still
counted, regardless of micro-batch arrival order). Parity is pinned
by tests/test_hot_cell_alert.py against batch_crowd_density's hot
flag over the same replay.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.spatial import HOT_CELL, _cell, _coords
from .crowd_density import STREAM_HOT_MIN

ALERT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("cell_x", T.LongType(), False),
        T.StructField("cell_y", T.LongType(), False),
        T.StructField("win_start_ms", T.LongType(), False),
        T.StructField("n_at_alert", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("win_starts", T.ArrayType(T.LongType()), True),
        T.StructField("counts", T.ArrayType(T.LongType()), True),
        T.StructField("alerted", T.ArrayType(T.BooleanType()), True),
        T.StructField("max_ts_ms", T.LongType(), True),
    ]
)

DAY_MS = 86_400_000


def _alert_fn(window_ms: int, hot_min: int, ttl_ms: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        cell_x, cell_y = key
        if state.hasTimedOut:
            # idle cell: drop it. A re-appearing cell restarts with an
            # empty ledger; only windows already finalized behind the
            # watermark are gone, and those alerts were emitted (or
            # correctly never due) before eviction.
            state.remove()
            return
        if state.exists:
            win_starts, counts, alerted, max_ts_ms = state.get
            ledger = {
                w: [c, a]
                for w, c, a in zip(win_starts, counts, alerted)
            }
        else:
            ledger, max_ts_ms = {}, 0
        out_rows = []
        for pdf in pdfs:
            for ts in pdf["ts"]:
                ts_ms = int(ts.value // 1_000_000)
                max_ts_ms = max(max_ts_ms, ts_ms)
                w = ts_ms - ts_ms % window_ms
                ent = ledger.setdefault(w, [0, False])
                ent[0] += 1
                if ent[0] >= hot_min and not ent[1]:
                    ent[1] = True
                    out_rows.append(
                        (int(cell_x), int(cell_y), int(w), int(ent[0]))
                    )
        # evict windows fully behind the watermark: no event for them
        # can still arrive, their alert (if due) has been emitted
        wm_ms = state.getCurrentWatermarkMs()
        ledger = {
            w: e for w, e in ledger.items() if w + window_ms > wm_ms
        }
        state.update(
            (
                list(ledger),
                [e[0] for e in ledger.values()],
                [e[1] for e in ledger.values()],
                max_ts_ms,
            )
        )
        state.setTimeoutTimestamp(max(max_ts_ms, wm_ms + 1) + ttl_ms)
        yield pd.DataFrame(
            out_rows,
            columns=["cell_x", "cell_y", "win_start_ms", "n_at_alert"],
        )

    return fn


def streaming_hot_cell_alerts(
    events: DataFrame,
    window_ms: int = DAY_MS,
    hot_min: int = STREAM_HOT_MIN,
    watermark: str = "35 days",
    ttl_ms: int = 40 * DAY_MS,
) -> DataFrame:
    """One alert per (cell, tumbling window) whose event count crosses
    ``hot_min``, emitted at crossing time. Wide watermark/TTL defaults
    are the replay-safe convention; production tightens both."""
    x, y = _coords(F.col("user_id"))
    keyed = events.withWatermark("ts", watermark).select(
        "ts",
        _cell(x, HOT_CELL).alias("cell_x"),
        _cell(y, HOT_CELL).alias("cell_y"),
    )
    return keyed.groupBy("cell_x", "cell_y").applyInPandasWithState(
        _alert_fn(window_ms, hot_min, ttl_ms),
        outputStructType=ALERT_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
