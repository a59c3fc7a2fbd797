"""Greedy non-maximum suppression (SURVEY.md W3).

Reference: ``cv2.dnn.NMSBoxes(boxes, confidences, score_thr, iou_thr)``
at main.py:125 (fire, IoU 0.4) and main.py:222-223 (person, IoU 0.3).
Semantics: sort candidates by confidence descending (stable — ties keep
input order), walk the list, keep a box iff its IoU with every
already-kept box is <= the threshold.

Greedy NMS is order-dependent, so it cannot be a window function or a
SQL aggregate — this is the one true custom grouped operator
(SURVEY.md §4 item 1). Implementation: ``applyInPandas`` keyed by the
frame; each group is one frame's candidate set (tens of boxes), so the
per-group Python cost is trivial while Spark parallelizes across
frames — exactly how it scales to 100 TB of frames: the shuffle key is
(camera_id, frame_id), high-cardinality and even.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

PERSON_IOU = 0.3  # reference main.py:222
FIRE_IOU = 0.4  # reference main.py:125
SCORE_THRESHOLD = 0.5  # reference main.py:103,201


def _iou(box: np.ndarray, kept: np.ndarray) -> np.ndarray:
    """IoU of one [x,y,w,h] box against an array of kept boxes."""
    x1 = np.maximum(box[0], kept[:, 0])
    y1 = np.maximum(box[1], kept[:, 1])
    x2 = np.minimum(box[0] + box[2], kept[:, 0] + kept[:, 2])
    y2 = np.minimum(box[1] + box[3], kept[:, 1] + kept[:, 3])
    inter = np.maximum(0.0, x2 - x1) * np.maximum(0.0, y2 - y1)
    union = box[2] * box[3] + kept[:, 2] * kept[:, 3] - inter
    return np.where(union > 0, inter / union, 0.0)


def _greedy_keep(boxes: np.ndarray, iou_threshold: float) -> list[int]:
    """The greedy walk over boxes already in confidence-descending
    order: indices of the boxes kept, each one's IoU with every
    earlier kept box being <= the threshold."""
    kept: list[int] = []
    for i in range(len(boxes)):
        if kept and np.any(_iou(boxes[i], boxes[kept]) > iou_threshold):
            continue
        kept.append(i)
    return kept


def nms_pandas(pdf: pd.DataFrame, iou_threshold: float) -> pd.DataFrame:
    """Greedy NMS on one frame's detections; returns kept rows only.

    Stable confidence-descending order (mergesort) pins cv2's
    tie-breaking: equal confidences keep input order.
    """
    if pdf.empty:
        return pdf
    order = np.argsort(-pdf["confidence"].to_numpy(), kind="stable")
    boxes = pdf[["x", "y", "w", "h"]].to_numpy(dtype="float64")[order]
    return pdf.iloc[order[_greedy_keep(boxes, iou_threshold)]]


def _nms_pairs(
    pairs: pd.DataFrame, key_cols: list[str], iou_threshold: float
) -> pd.DataFrame:
    """Vectorized NMS for all 2-box frames at once: drop the
    lower-confidence box iff pairwise IoU > threshold. Stable
    tie-break = input order, matching nms_pandas."""
    p = pairs.sort_values(key_cols, kind="stable")
    a = p.iloc[0::2]
    b = p.iloc[1::2]
    ax, ay, aw, ah = (a[c].to_numpy(dtype="float64") for c in ("x", "y", "w", "h"))
    bx, by, bw, bh = (b[c].to_numpy(dtype="float64") for c in ("x", "y", "w", "h"))
    x1 = np.maximum(ax, bx)
    y1 = np.maximum(ay, by)
    x2 = np.minimum(ax + aw, bx + bw)
    y2 = np.minimum(ay + ah, by + bh)
    inter = np.maximum(0.0, x2 - x1) * np.maximum(0.0, y2 - y1)
    union = aw * ah + bw * bh - inter
    iou = np.where(union > 0, inter / union, 0.0)
    suppress = iou > iou_threshold
    # loser = lower confidence; tie keeps the earlier (first) row
    a_conf = a["confidence"].to_numpy()
    b_conf = b["confidence"].to_numpy()
    drop_first = suppress & (a_conf < b_conf)
    drop_second = suppress & ~drop_first
    keep_mask = np.empty(len(p), dtype=bool)
    keep_mask[0::2] = ~drop_first
    keep_mask[1::2] = ~drop_second
    return p[keep_mask]


def _nms_multi(
    multi: pd.DataFrame, codes: np.ndarray, iou_threshold: float
) -> pd.DataFrame:
    """Greedy NMS over ALL 3+-box frames with one numpy pass: groups
    are contiguous runs of ``codes`` (the caller's canonical sort),
    each run handled on raw array slices. Per-group semantics are
    nms_pandas' exactly (stable confidence-descending order, greedy
    keep); what changes is the constant — a pandas groupby loop paid
    ~0.7 ms of DataFrame slicing per TINY group (7.4 s single-core for
    10k frames at sf0.1), the array form ~30 µs."""
    # make groups contiguous, keeping within-group input order (the
    # tie-break semantics) — stable sort is a no-op when the caller
    # already sorted by the key columns
    run = np.argsort(codes, kind="stable")
    multi = multi.iloc[run]
    codes = codes[run]
    conf = multi["confidence"].to_numpy()
    boxes = multi[["x", "y", "w", "h"]].to_numpy(dtype="float64")
    change = np.empty(len(multi), dtype=bool)
    change[0] = True
    change[1:] = codes[1:] != codes[:-1]
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(multi))
    out: list[np.ndarray] = []
    for s, e in zip(starts, ends):
        order = np.argsort(-conf[s:e], kind="stable")
        out.append(s + order[_greedy_keep(boxes[s:e][order], iou_threshold)])
    return multi.iloc[np.concatenate(out)]


def nms(
    detections: DataFrame,
    key_cols: list[str],
    iou_threshold: float = PERSON_IOU,
    buckets: int | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed greedy NMS keyed by frame.

    Frames are tiny (tens of boxes) but numerous, and one
    ``applyInPandas`` group per frame pays a JVM↔Arrow round trip per
    group. Instead, frames hash into ``buckets`` coarse groups (≈ one
    per shuffle partition) and the per-frame grouping happens inside
    pandas — same semantics, ~2 orders of magnitude less per-group
    overhead. Frame keys never split across buckets (hash partitioning),
    so results are exact.
    """
    from pyspark.sql import functions as F

    if buckets is None:
        buckets = int(
            detections.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )

    out_schema = detections.schema

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_nms_bucket"])
        if pdf.empty:
            return pdf
        # canonical within-frame order: confidence ties break by input
        # order (cv2 stable-sort semantics), but Spark does not
        # guarantee pandas-group row order — pin it so results are
        # deterministic across shuffles/retries
        if order_cols:
            pdf = pdf.sort_values(
                [*key_cols, *order_cols], kind="stable", ignore_index=True
            )
        # fast paths: 1-box frames can never be suppressed; 2-box
        # frames reduce to one vectorized pairwise-IoU test across all
        # such frames at once; 3+-box frames run the greedy loop on
        # contiguous numpy slices (_nms_multi) — one groupby total,
        # never a pandas object per frame.
        grp = pdf.groupby(key_cols, sort=False)
        sizes = grp[key_cols[0]].transform("size")
        codes = grp.ngroup().to_numpy()
        singles = pdf[sizes == 1]
        parts = [singles]
        pairs = pdf[sizes == 2]
        if not pairs.empty:
            parts.append(_nms_pairs(pairs, key_cols, iou_threshold))
        mmask = (sizes > 2).to_numpy()
        if mmask.any():
            parts.append(
                _nms_multi(pdf[mmask], codes[mmask], iou_threshold)
            )
        return pd.concat(parts, ignore_index=True)

    return (
        detections.withColumn(
            "_nms_bucket", F.pmod(F.hash(*key_cols), F.lit(buckets))
        )
        .groupBy("_nms_bucket")
        .applyInPandas(_apply, schema=out_schema)
    )
