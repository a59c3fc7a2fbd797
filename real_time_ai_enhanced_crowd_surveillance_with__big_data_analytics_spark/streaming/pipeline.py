"""The reference's full live loop in streaming form (SURVEY.md EP1 →
Spark): frame stream → detection parse → greedy NMS → per-frame person
count → crowd flag → alert sink.

Greedy NMS needs ALL of a frame's boxes together, but a real stream
may deliver a frame's detections across micro-batches (retries,
multi-part uploads, shuffled replay). The operator is therefore
STATEFUL: ``applyInPandasWithState`` keyed by (camera_id, frame_id)
accumulates each frame's candidate boxes in the state store and
re-emits the frame's current NMS verdict every time new boxes arrive
(update semantics — the last emission per frame equals batch NMS over
the complete set, however arrivals were split). State per key is the
frame's candidate list — tens of boxes, O(frame), hash-partitioned by
the high-cardinality frame key; an event-time timeout (watermark TTL)
evicts completed frames, which is exactly the reference's per-frame
lifetime (main.py:188-233) made explicit. Without eviction the state
store grows one cell per frame ever seen — unbounded on a real
stream; with it, live state is O(frames inside the watermark+TTL
horizon) regardless of stream age.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.detections import (
    CROWD_THRESHOLD,
    parse_detections,
    synthesize_raw,
)
from ..operators.nms import PERSON_IOU, _greedy_keep

_CROWD_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("camera_id", T.LongType(), False),
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("n_persons", T.LongType(), False),
        T.StructField("crowded", T.BooleanType(), False),
    ]
)

# accumulated candidate boxes for one frame (parallel arrays) plus the
# frame's newest-ever event time — persisted so a late out-of-order
# batch can never move the eviction deadline BACKWARD (recomputing the
# deadline from only the current batch's max ts would)
_CROWD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.ArrayType(T.LongType()), True),
        T.StructField("confidence", T.ArrayType(T.DoubleType()), True),
        T.StructField("x", T.ArrayType(T.LongType()), True),
        T.StructField("y", T.ArrayType(T.LongType()), True),
        T.StructField("w", T.ArrayType(T.LongType()), True),
        T.StructField("h", T.ArrayType(T.LongType()), True),
        T.StructField("max_ts_ms", T.LongType(), True),
    ]
)

_BOX_COLS = ("event_id", "confidence", "x", "y", "w", "h")


def _crowd_fn(ttl_ms: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        camera_id, frame_id = key
        if state.hasTimedOut:
            # watermark passed this frame's horizon: its last update
            # emission is final, drop the accumulated boxes.
            state.remove()
            return
        if state.exists:
            *box_state, max_ts_ms = state.get
            acc: dict[str, list] = dict(
                zip(_BOX_COLS, (list(v) for v in box_state))
            )
        else:
            acc = {c: [] for c in _BOX_COLS}
            max_ts_ms = 0
        for pdf in pdfs:
            for c in _BOX_COLS:
                acc[c].extend(pdf[c].tolist())
            if len(pdf):
                # max over stored AND batch ts: a late out-of-order
                # arrival must never pull the deadline earlier
                max_ts_ms = max(
                    max_ts_ms, int(pdf["ts"].max().value // 1_000_000)
                )
        state.update((*(acc[c] for c in _BOX_COLS), max_ts_ms))
        # Evict once the watermark passes the frame's newest event + TTL.
        # Spark rejects timeout timestamps at/behind the current
        # watermark, so clamp against it (a frame whose events are
        # already older than the watermark horizon gets the minimum
        # legal lifetime and is collected on the next batch).
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts_ms, wm_ms + 1) + ttl_ms)
        # canonical order: event_id (the batch twin's order_cols), then
        # nms_pandas' stable confidence sort — identical tie-breaks — on
        # plain arrays: a pandas frame per key costs ~5x as much
        by_id = np.argsort(np.asarray(acc["event_id"], dtype=np.int64), kind="stable")
        conf = np.asarray(acc["confidence"], dtype=np.float64)[by_id]
        order = by_id[np.argsort(-conf, kind="stable")]
        boxes = np.column_stack(
            [np.asarray(acc[c], dtype=np.float64) for c in ("x", "y", "w", "h")]
        )[order]
        n = len(_greedy_keep(boxes, PERSON_IOU))
        yield pd.DataFrame(
            {
                "camera_id": [camera_id],
                "frame_id": [frame_id],
                "n_persons": [n],
                "crowded": [n > CROWD_THRESHOLD],
            }
        )

    return fn


def streaming_crowd_alerts(
    events_stream: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    watermark: str = "35 days",
    frame_ttl_ms: int = 3_600_000,
    checkpoint_dir: str | None = None,
):
    """Wire the full pipeline onto an unbounded events stream. Each
    micro-batch emits the CURRENT verdict for every frame that received
    boxes (update semantics); ``on_batch`` sinks them — a keyed upsert
    sink (or the test's dict) naturally keeps the latest.

    ``watermark`` bounds how late a frame's boxes may arrive;
    ``frame_ttl_ms`` is how long past its newest event a frame's state
    survives before eviction. The defaults are replay-safe for the
    test harness (the events replay is event_id-ordered while ts is
    uniform over ~30 days, so a tight watermark would drop 'late' rows
    that are merely replay-reordered); production streams with
    near-ordered event time should tighten both.
    """
    det = parse_detections(
        synthesize_raw(events_stream, keep=("ts",)), keep=("ts",)
    )
    crowded = (
        det.select("ts", "camera_id", "frame_id", *_BOX_COLS)
        .withWatermark("ts", watermark)
        .groupBy("camera_id", "frame_id")
        .applyInPandasWithState(
            _crowd_fn(frame_ttl_ms),
            outputStructType=_CROWD_OUTPUT_SCHEMA,
            stateStructType=_CROWD_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    writer = crowded.writeStream.outputMode("update").foreachBatch(on_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
