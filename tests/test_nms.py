"""Greedy-NMS goldens + properties (SURVEY.md §5.2/§5.4; reference
cv2.dnn.NMSBoxes semantics at main.py:125,222-223)."""

from __future__ import annotations

import pandas as pd
import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.detections import (
    CROWD_THRESHOLD,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.nms import (
    FIRE_IOU,
    PERSON_IOU,
    _iou,
    nms,
    nms_pandas,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.pipeline import (
    _BOX_COLS,
    _crowd_fn,
)

import numpy as np


def _pdf(rows):
    return pd.DataFrame(rows, columns=["camera_id", "frame_id", "confidence", "x", "y", "w", "h"])


def test_iou_basic():
    a = np.array([0.0, 0.0, 10.0, 10.0])
    kept = np.array([[0.0, 0.0, 10.0, 10.0], [5.0, 5.0, 10.0, 10.0], [20.0, 20.0, 5.0, 5.0]])
    got = _iou(a, kept)
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(25.0 / 175.0)
    assert got[2] == pytest.approx(0.0)


def test_nms_suppresses_overlap_keeps_disjoint():
    # box B overlaps A (IoU 25/175 ≈ 0.143); C is disjoint.
    pdf = _pdf(
        [
            ("c", 1, 0.9, 0, 0, 10, 10),   # A kept (highest conf)
            ("c", 1, 0.8, 5, 5, 10, 10),   # B: IoU with A ≈ .143 — kept at 0.3, dropped at 0.1
            ("c", 1, 0.7, 20, 20, 5, 5),   # C kept (disjoint)
        ]
    )
    kept03 = nms_pandas(pdf, PERSON_IOU)
    assert sorted(kept03["confidence"]) == [0.7, 0.8, 0.9]
    kept01 = nms_pandas(pdf, 0.1)
    assert sorted(kept01["confidence"]) == [0.7, 0.9]


def test_nms_tie_keeps_input_order():
    # equal confidences: stable sort keeps the earlier row, which then
    # suppresses the later identical box (cv2 stable-sort semantics)
    pdf = _pdf(
        [
            ("c", 1, 0.8, 0, 0, 10, 10),
            ("c", 1, 0.8, 1, 1, 10, 10),  # IoU with first ≈ .68 > .4
        ]
    )
    kept = nms_pandas(pdf, FIRE_IOU)
    assert len(kept) == 1
    assert kept.iloc[0]["x"] == 0


def test_nms_property_pairwise_iou_below_threshold():
    rng = np.random.default_rng(42)
    rows = [
        ("c", 1, float(rng.random()), float(rng.integers(0, 100)),
         float(rng.integers(0, 100)), float(rng.integers(5, 40)), float(rng.integers(5, 40)))
        for _ in range(60)
    ]
    kept = nms_pandas(_pdf(rows), PERSON_IOU)
    boxes = kept[["x", "y", "w", "h"]].to_numpy(dtype="float64")
    # property: kept set has pairwise IoU <= threshold
    for i in range(len(boxes)):
        others = np.delete(boxes, i, axis=0)
        if len(others):
            assert np.all(_iou(boxes[i], others) <= PERSON_IOU + 1e-12)
    # property: output is a subset of input
    assert len(kept) <= len(rows)


def test_nms_distributed_matches_local(spark):
    # mixed frame sizes so all three paths run: 1-box (bypass), 2-box
    # (vectorized pair), 3+ (greedy loop)
    rng = np.random.default_rng(7)
    rows = []
    for cam in ["a", "b"]:
        for frame in range(8):
            n_boxes = [1, 2, 2, 3, 15, 1, 2, 4][frame]
            for _ in range(n_boxes):
                rows.append(
                    (cam, frame, float(rng.random()), float(rng.integers(0, 80)),
                     float(rng.integers(0, 80)), float(rng.integers(5, 30)), float(rng.integers(5, 30)))
                )
    pdf = _pdf(rows)
    df = spark.createDataFrame(pdf)
    got = (
        nms(df, ["camera_id", "frame_id"], PERSON_IOU)
        .toPandas()
        .sort_values(["camera_id", "frame_id", "confidence"])
        .reset_index(drop=True)
    )
    want = (
        pd.concat(
            nms_pandas(g, PERSON_IOU)
            for _, g in pdf.groupby(["camera_id", "frame_id"])
        )
        .sort_values(["camera_id", "frame_id", "confidence"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


class _StubState:
    """The slice of ``GroupState`` the streaming crowd kernel touches."""

    hasTimedOut = False

    def __init__(self, value=None):
        self.value = value
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_ms = ts_ms


def test_streaming_crowd_kernel_matches_nms_pandas():
    """``_crowd_fn`` counts a frame's persons as ``nms_pandas`` does on
    the frame's boxes in event_id order, whether the boxes arrive in
    one batch or partly from the state store; confidences are drawn
    from four values so ties (broken by event_id) are common."""
    fn = _crowd_fn(1_000)
    rng = np.random.default_rng(11)
    for frame_id in range(300):
        n = int(rng.integers(1, 21))
        frame = pd.DataFrame(
            {
                "event_id": rng.permutation(1_000)[:n],
                "confidence": rng.choice([0.55, 0.7, 0.85, 0.9], n),
                "x": rng.integers(0, 60, n),
                "y": rng.integers(0, 60, n),
                "w": rng.integers(10, 40, n),
                "h": rng.integers(10, 40, n),
                "ts": pd.to_datetime(rng.integers(1, 10**6, n), unit="ms"),
            }
        )
        want = len(
            nms_pandas(frame.sort_values("event_id", ignore_index=True), PERSON_IOU)
        )
        split = int(rng.integers(0, n + 1))
        if frame_id % 2:
            # existing state holds the first `split` boxes, the batch the rest
            stored = frame.iloc[:split]
            state = _StubState(
                (*(stored[c].tolist() for c in _BOX_COLS), int(rng.integers(0, 10**6)))
            )
            batch = [frame.iloc[split:]]
        else:
            state = _StubState()
            batch = [frame.iloc[:split], frame.iloc[split:]]
        before_ts = state.value[-1] if state.exists else 0
        (out,) = fn((7, frame_id), iter(batch), state)
        assert out.to_dict("records") == [
            {
                "camera_id": 7,
                "frame_id": frame_id,
                "n_persons": want,
                "crowded": want > CROWD_THRESHOLD,
            }
        ]
        # the state now holds every box of the frame, in arrival order
        assert state.value[:-1] == tuple(frame[c].tolist() for c in _BOX_COLS)
        batch_ts = [int(p["ts"].max().value // 1_000_000) for p in batch if len(p)]
        newest = max([before_ts, *batch_ts])
        assert state.value[-1] == newest and state.timeout_ms == newest + 1_000
