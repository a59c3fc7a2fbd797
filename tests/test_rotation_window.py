"""Mechanical guards for the 50-query verification window
(plans/registry.py::_PRIORITY) — the rotation discipline VERDICT r5-r8
applied by hand, now pinned so a future round cannot silently ship a
query without a driver verdict or drop the canaries."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.rotation_planner import latest_verdicts  # noqa: E402

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.registry import (  # noqa: E402
    _ALL,
    _PRIORITY,
)


def test_canaries_lead_the_window():
    assert _PRIORITY[:2] == ["crowded_frames", "revenue_by_nation"]


def test_every_never_checked_query_is_in_the_window():
    """A registry query with no driver verdict in ANY
    CORRECTNESS_r*.json must sit in the first 50, or it ships without
    a correctness gate this round."""
    verdicts = latest_verdicts()
    never = [n for n in _ALL if n not in verdicts]
    missing = [n for n in never if n not in _PRIORITY]
    assert not missing, (
        f"never-driver-checked queries outside the window: {missing}"
    )


def test_no_red_latest_verdict_left_out():
    """A query whose LATEST driver verdict is a failure must re-enter
    the window (it was presumably fixed and needs a fresh verdict)."""
    verdicts = latest_verdicts()
    red = [n for n in _ALL if n in verdicts and not verdicts[n][1]]
    left_out = [n for n in red if n not in _PRIORITY]
    assert not left_out, f"red-latest queries outside the window: {left_out}"
