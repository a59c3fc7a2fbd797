"""Streaming crowd density: windowed per-cell event pressure.

The reference's crowd branch counts people per frame and alarms over a
threshold (main.py:176-186, one camera at a time). The fleet-scale
version of that question is spatial and temporal at once: how much
activity is each PLACE seeing per time window, and which places are
hot right now. This is the streaming twin of
``plans.spatial.crowd_density_hotspots`` — the SAME deterministic
site mapping and exact cent-sum quantization (imported, so the two
paths cannot drift), under event-time tumbling windows with a
watermark.

Design notes:

- The grouping key is (window, cell_x, cell_y) — the cell space is
  world-bounded (<= 400 cells), so state per window is bounded by
  geography, not by traffic; the watermark evicts closed windows.
- Distinct-user counts are NOT carried here: exact distinct
  aggregation is unsupported under streaming aggregation, and an
  approx sketch would silently diverge from the batch twin's exact
  column. The batch query stays the system of record for n_users.
- value is quantized to integer cents per row BEFORE the aggregate
  (the round-margin-audit-proof idiom), so the streaming and batch
  sums are the same int64 in any partitioning/micro-batching.

Stream == batch parity is pinned by tests/test_crowd_density_stream.py
over the ordered replay source (runner.stream_events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.spatial import HOT_CELL, _cell, _coords

STREAM_HOT_MIN = 5


def streaming_crowd_density(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "35 days",
    hot_min: int = STREAM_HOT_MIN,
) -> DataFrame:
    """Per (event-time window, grid cell): event count, exact cent
    volume, error count, and a hot flag.

    The wide default watermark is replay-safe: the replay's chunks
    are event_id-ordered, not ts-ordered (runner.stream_events).
    Production tightens it to the real late-data bound; state stays
    (windows in flight) x (<= 400 cells) either way.
    """
    return _density(events, window, hot_min, watermark)


def batch_crowd_density(
    events: DataFrame, window: str = "1 day", hot_min: int = STREAM_HOT_MIN
) -> DataFrame:
    """The batch evaluation of the same plan, without the watermark —
    used by the parity test and by backfills (one code path, two
    execution modes is the point of Structured Streaming)."""
    return _density(events, window, hot_min)


def _density(
    events: DataFrame, window: str, hot_min: int, watermark: str | None = None
) -> DataFrame:
    """The density plan; a watermark, when given, goes between the
    projection and the windowed aggregate."""
    x, y = _coords(F.col("user_id"))
    cents = F.round(F.col("value") * 100).cast("long")
    cells = events.select(
        "ts",
        "event_type",
        _cell(x, HOT_CELL).alias("cell_x"),
        _cell(y, HOT_CELL).alias("cell_y"),
        cents.alias("cents"),
    )
    if watermark is not None:
        cells = cells.withWatermark("ts", watermark)
    return (
        cells.groupBy(F.window("ts", window).alias("win"), "cell_x", "cell_y")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("value_cents"),
            F.count_if(F.col("event_type") == "error").alias("n_errors"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "cell_x",
            "cell_y",
            "n_events",
            "value_cents",
            "n_errors",
            (F.col("n_events") >= hot_min).alias("hot"),
        )
    )
