"""Detection parsing: raw model-output rows → detection relation
(SURVEY.md §2.10 'UDTF-shaped'; reference main.py:105-122).

The reference walks 85-float YOLO rows in Python: scores = row[5:],
class_id = argmax, confidence = scores[class_id], box = row[0:4]
rescaled center→corner. Here the same semantics are array expressions:
argmax is ``array_position(scores, array_max(scores))``, the box
arithmetic is plain column math, and the confidence filter sits before
the box math exactly as the reference orders it (main.py:110-118) —
which Catalyst would do anyway via lazy projection.

The driver testdata has no real model output, so ``synthesize_raw``
derives a deterministic stand-in 'raw detection' stream from the
events table (documented, oracle-reproducible arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_CLASSES = 10  # stand-in for COCO-80; class 0 = 'person' by convention
CONFIDENCE_THRESHOLD = 0.5  # reference main.py:103,201
CROWD_THRESHOLD = 3  # more persons than this = crowded, reference main.py:232
FRAME_W = 416  # reference blob geometry main.py:93
FRAME_H = 416


def synthesize_raw(events: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Deterministic raw 'model output' from events: each event becomes
    one candidate detection row with a synthetic score vector and a
    center-format box — the shape of a YOLO output row (main.py:105).

    ``keep`` passes extra source columns through untouched (the
    streaming pipeline threads ``ts`` for its event-time watermark);
    batch callers default to the original column surface."""
    scores = F.transform(
        F.sequence(F.lit(0), F.lit(N_CLASSES - 1)),
        lambda k: ((F.col("event_id") * (k + 7)) % 100).cast("double") / 100.0,
    )
    return events.select(
        *keep,
        F.col("user_id").alias("camera_id"),
        (F.col("event_id") % 50).alias("frame_id"),
        F.col("event_id"),
        scores.alias("scores"),
        # center-format box, deterministic pixel coords
        ((F.col("event_id") * 37) % FRAME_W).cast("double").alias("cx"),
        ((F.col("event_id") * 91) % FRAME_H).cast("double").alias("cy"),
        (30 + (F.col("event_id") % 60)).cast("double").alias("bw"),
        (30 + ((F.col("event_id") * 7) % 60)).cast("double").alias("bh"),
    )


def parse_detections(raw: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """score-slice → argmax → confidence filter → center→corner box
    (reference main.py:105-122). First-max argmax matches np.argmax.

    ``keep`` mirrors :func:`synthesize_raw` — extra pass-through columns
    for streaming event-time; the batch schema is unchanged by default."""
    class_id = (
        F.array_position(F.col("scores"), F.array_max(F.col("scores"))) - 1
    ).cast("int")
    confidence = F.array_max(F.col("scores"))
    return (
        raw.withColumn("class_id", class_id)
        .withColumn("confidence", confidence)
        .filter(F.col("confidence") > CONFIDENCE_THRESHOLD)
        .select(
            *keep,
            "camera_id",
            "frame_id",
            "event_id",
            "class_id",
            F.round("confidence", 6).alias("confidence"),
            # floor, not int-cast: corner coords can go negative and
            # truncation-toward-zero would diverge from floor there
            F.floor(F.col("cx") - F.col("bw") / 2).cast("int").alias("x"),
            F.floor(F.col("cy") - F.col("bh") / 2).cast("int").alias("y"),
            F.col("bw").cast("int").alias("w"),
            F.col("bh").cast("int").alias("h"),
        )
    )
