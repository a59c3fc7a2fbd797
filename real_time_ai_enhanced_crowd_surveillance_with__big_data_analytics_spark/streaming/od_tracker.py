"""Streaming origin-destination tracker — the live twin of
``plans/spatial.py::od_flow_matrix``'s edge construction: per user,
the camera cell of each observation compared against the REMEMBERED
previous one, emitting a movement edge the moment the subject is seen
again — the real-time feed behind a crowd-flow heat map (the batch
query aggregates the same edges retrospectively).

State per user: the last observed (event-time, event_id, cell) — three
ints — bounded by |subjects|, never by stream length. Arrival order
within a micro-batch is normalized by (ts, event_id) sort, so over the
ts-ordered replay the emitted edge set is EXACTLY the batch lag
chain's (pinned by the parity test); out-of-order arrival is
arrival-greedy (a late event older than the remembered one is ignored
rather than rewriting history — pinned explicitly)."""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.spatial import HOT_CELL, WORLD, _MOD, _MULT

OD_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("from_x", T.LongType(), False),
        T.StructField("from_y", T.LongType(), False),
        T.StructField("to_x", T.LongType(), False),
        T.StructField("to_y", T.LongType(), False),
        T.StructField("ts_us", T.LongType(), False),
    ]
)

_OD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType(), True),
        T.StructField("last_eid", T.LongType(), True),
        T.StructField("cx", T.LongType(), True),
        T.StructField("cy", T.LongType(), True),
    ]
)


def cell_of(event_id: int) -> tuple[int, int]:
    """The plans/spatial.py coordinate hash, shared with the tests."""
    h = (event_id * _MULT) % _MOD
    return (h % WORLD) // HOT_CELL, ((h // WORLD) % WORLD) // HOT_CELL


def _tracker_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    uid = int(key[0])
    if state.exists:
        last_ts, last_eid, cx, cy = (int(v) for v in state.get)
    else:
        last_ts = -1
        last_eid = cx = cy = 0
    rows = []
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        eids = pdf["event_id"].astype("int64").to_numpy()
        for t_us, eid in zip(ts_us, eids):
            t_us, eid = int(t_us), int(eid)
            if last_ts >= 0 and (t_us, eid) <= (last_ts, last_eid):
                continue  # arrival-greedy: never rewrite history
            nx, ny = cell_of(eid)
            if last_ts >= 0:
                rows.append((uid, cx, cy, nx, ny, t_us))
            last_ts, last_eid, cx, cy = t_us, eid, nx, ny
    state.update((last_ts, last_eid, cx, cy))
    yield pd.DataFrame(
        rows, columns=[f.name for f in OD_OUTPUT_SCHEMA.fields]
    )


def streaming_od_tracker(events: DataFrame) -> DataFrame:
    """Append-mode movement edges, one per consecutive observation pair
    per user."""
    keyed = events.select("user_id", "event_id", "ts")
    return keyed.groupBy("user_id").applyInPandasWithState(
        _tracker_fn,
        outputStructType=OD_OUTPUT_SCHEMA,
        stateStructType=_OD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
