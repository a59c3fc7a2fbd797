"""Small, Spark-free arithmetic the benchmark reports with: quartile
spreads, the tail-percentile rule, span self time, and the
metric-name grammar.  Unit-tested in ``test_perfbench.py``."""

from __future__ import annotations

import math
import re
import statistics

# names the benchmark prints; 64 characters at most, leading letter/digit
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# a percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the repeat-runs check
    computes it, with ``statistics.quantiles(n=4)``."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else math.inf


def tail_percentile(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """Nearest-rank ``q``-quantile, or None when fewer than
    ``min_beyond`` samples lie beyond its rank (p90 needs >= 100
    samples).  A tail read off a handful of samples is one sample."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name not covered by the span's children.

    Each span is ``{"id", "parent", "name", "start", "end"}``; children
    may overlap each other, so the covered part is the union of their
    intervals clipped to the parent."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
