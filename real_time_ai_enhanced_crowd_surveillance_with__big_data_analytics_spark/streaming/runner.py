"""Structured Streaming runners (SURVEY.md §2.9).

The reference's stream is a synchronous webcam loop with
processing-time-only semantics (main.py:143-149); frames are dropped
when the loop lags, nothing is replayed. Our mapping adds what the
reference lacks: event time + watermarks, so the same DataFrame code
runs batch or streaming (Structured Streaming's unification is the
point — SURVEY.md §1.2).

The events parquet table stands in for the frame stream: a file
source replays it micro-batch by micro-batch in tests
(processAllAvailable + memory sink, SURVEY.md §5.3).
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import (
    _ensure_session_conf,
    file_identity,
    normalize_events_ts,
    read_parquet,
)

# one replay directory per (session-lifetime, source file identity):
# the chunking write runs once, every stream_events call after that
# just points the file source at it. Keyed on the source parquet's
# ``file_identity`` (the rule the batch schema memo uses) so a
# regenerated events.parquet within one session re-derives the replay
# instead of streaming stale chunks; a source os.stat cannot see is
# re-derived on every call. The mkdtemp dirs are removed at
# interpreter exit.
_REPLAY_DIRS: dict[tuple, str] = {}
_REPLAY_CHUNKS = 8


def _cleanup_replay_dirs() -> None:
    for base in _REPLAY_DIRS.values():
        shutil.rmtree(base, ignore_errors=True)
    _REPLAY_DIRS.clear()


atexit.register(_cleanup_replay_dirs)


def _replay_dir(spark: SparkSession, sf_path: str) -> str:
    """Materialize the events table as _REPLAY_CHUNKS range-ordered
    parquet files for multi-batch replay.

    The file source processes oldest-modification-time first, and task
    completion order is not partition order — so after the write, each
    part file's mtime is pinned ascending in sorted-path order
    (repartitionByRange makes part-00000 the lowest event_id range).
    Result: micro-batches arrive in event_id order, which is what the
    stateful operators' incremental correctness is measured against.
    """
    src = f"{sf_path}/events.parquet"
    key = file_identity(src)
    base = _REPLAY_DIRS.get(key)
    if base is not None and os.path.isdir(base):
        return base
    events = read_parquet(spark, src)
    base = tempfile.mkdtemp(prefix="events_replay_")
    (
        events.repartitionByRange(_REPLAY_CHUNKS, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .parquet(base)
    )
    t0 = 1_000_000_000  # fixed epoch base: deterministic replay order
    for i, path in enumerate(sorted(glob.glob(f"{base}/part-*"))):
        os.utime(path, (t0 + i, t0 + i))
    if key is not None:
        _REPLAY_DIRS[key] = base
    return base


def stream_events(spark: SparkSession, sf_path: str) -> DataFrame:
    """events table as an unbounded stream: a test-harness replay that
    chunks the driver's events parquet (TESTDATA.md fixes the file
    name) into ordered files, one micro-batch each — state really does
    carry across batches, unlike a single-file single-batch replay.
    Same column surface as the batch loader, so every batch plan
    composes unchanged; production swaps this for a Kafka/file-drop
    source with the same schema.

    The file-source schema comes from the replay files' parquet footer
    (streaming sources can't infer), so the physical ts shape
    (nanos-long / NTZ / LTZ — see ``sources.tables.load_table``) is
    handled identically to batch. It is inferred through the same
    per-file-identity memo as batch reads, so a repeated call on an
    unchanged source launches no inference job.
    """
    _ensure_session_conf(spark)
    base = _replay_dir(spark, sf_path)
    raw_schema = read_parquet(spark, base).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    return normalize_events_ts(raw)


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming frame to a memory sink synchronously (test
    harness; production would be Kafka/foreachBatch)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def click_purchase_pairs(
    purchases: DataFrame,
    clicks: DataFrame,
    window_s: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: (purchase, click) pairs of the same
    user within ±``window_s`` seconds — the streaming twin of the batch
    range join behind clicks_near_purchases (operators/range_join.py).

    Both inputs carry watermarks AND the join condition bounds c_ts
    relative to p_ts, which is exactly what Structured Streaming needs
    to expire join state: a click older than purchase-watermark −
    window can never match again and is dropped. Without the time
    bound the state store grows without limit — the unbounded-join
    anti-pattern this module exists to avoid. Works identically on
    batch DataFrames (no code change), which the parity test exploits.
    """
    return _click_purchase_join(purchases, clicks, window_s, watermark, "inner")


def click_purchase_pairs_outer(
    purchases: DataFrame,
    clicks: DataFrame,
    window_s: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase emits — paired
    rows as they match, and a NULL-click row once the watermark proves
    no click can still arrive for it (purchase state older than
    watermark − window expires unmatched → the null row is emitted
    exactly then, never early). The "which conversions had no
    attributable click" readout that an inner join silently drops.

    Same watermark + time-bound requirements as the inner form — outer
    joins additionally REQUIRE them (Structured Streaming rejects an
    unbounded outer stream-stream join outright), because the null
    side can only be decided when state provably expires.
    """
    return _click_purchase_join(purchases, clicks, window_s, watermark, "left_outer")


def _click_purchase_join(
    purchases: DataFrame, clicks: DataFrame, window_s: int, watermark: str, how: str
) -> DataFrame:
    p = purchases.withWatermark("p_ts", watermark)
    c = clicks.withWatermark("c_ts", watermark)
    cond = (
        (p["user_id"] == c["c_user_id"])
        & (c["c_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {window_s} SECONDS"))
        & (c["c_ts"] <= p["p_ts"] + F.expr(f"INTERVAL {window_s} SECONDS"))
    )
    return p.join(c, cond, how).select(
        "user_id", "purchase_id", "click_id", "p_ts", "c_ts"
    )
