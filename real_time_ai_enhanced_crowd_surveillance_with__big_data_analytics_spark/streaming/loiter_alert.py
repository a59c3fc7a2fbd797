"""Streaming loitering alarm — the live twin of
``plans/spatial.py::loiter_episodes``: per subject, the consecutive
same-zone run length is tracked in state and ONE alarm row is emitted
the moment a run reaches ``LOITER_MIN_OBS`` — the reference's
alarm-once-per-episode discipline (main.py's Sound_Played flag)
applied to the dwell pattern its per-frame loop cannot see.

State per subject: current zone, run length, run-start time, and the
alarmed flag — five ints, |subjects|-bounded. A zone change resets the
run (and re-arms the alarm); further observations inside an alarmed
run stay silent. Over ts-ordered arrival the alarms are exactly the
batch episodes' threshold crossings (pinned against loiter_episodes);
disorder is arrival-greedy like the OD tracker.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.spatial import LOITER_CELL, LOITER_MIN_OBS, WORLD, _MOD, _MULT

LOITER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("zone_x", T.LongType(), False),
        T.StructField("zone_y", T.LongType(), False),
        T.StructField("run_start_us", T.LongType(), False),
        T.StructField("alarm_ts_us", T.LongType(), False),
    ]
)

_LOITER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("zx", T.LongType(), True),
        T.StructField("zy", T.LongType(), True),
        T.StructField("run_len", T.LongType(), True),
        T.StructField("run_start_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
        T.StructField("last_eid", T.LongType(), True),
        T.StructField("alarmed", T.IntegerType(), True),
    ]
)


def zone_of(event_id: int) -> tuple[int, int]:
    h = (event_id * _MULT) % _MOD
    return (h % WORLD) // LOITER_CELL, ((h // WORLD) % WORLD) // LOITER_CELL


def _alert_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    uid = int(key[0])
    if state.exists:
        zx, zy, rl, rs, last_us, last_eid, alarmed = (
            int(v) for v in state.get
        )
    else:
        zx = zy = rl = rs = last_eid = 0
        last_us = -1
        alarmed = 0
    rows = []
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        eids = pdf["event_id"].astype("int64").to_numpy()
        for t_us, eid in zip(ts_us, eids):
            t_us, eid = int(t_us), int(eid)
            if last_us >= 0 and (t_us, eid) <= (last_us, last_eid):
                continue  # arrival-greedy
            nx, ny = zone_of(eid)
            if last_us >= 0 and (nx, ny) == (zx, zy):
                rl += 1
            else:
                zx, zy, rl, rs, alarmed = nx, ny, 1, t_us, 0
            if rl == LOITER_MIN_OBS and not alarmed:
                rows.append((uid, zx, zy, rs, t_us))
                alarmed = 1
            last_us, last_eid = t_us, eid
    state.update((zx, zy, rl, rs, last_us, last_eid, alarmed))
    yield pd.DataFrame(
        rows, columns=[f.name for f in LOITER_OUTPUT_SCHEMA.fields]
    )


def streaming_loiter_alerts(events: DataFrame) -> DataFrame:
    """Append-mode alarm rows — at most one per dwell episode."""
    keyed = events.select("user_id", "event_id", "ts")
    return keyed.groupBy("user_id").applyInPandasWithState(
        _alert_fn,
        outputStructType=LOITER_OUTPUT_SCHEMA,
        stateStructType=_LOITER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
