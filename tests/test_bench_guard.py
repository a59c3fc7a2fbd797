"""Bench DNF/regression guard (ADVICE r2 item 8).

Two layers: (1) every registered query must at least ANALYZE against
the smoke-SF tables — the exact failure class that zeroed the round-2
bench (an AnalysisException at query 14 killed the whole run) — and
(2) the bench_compare logic itself is unit-tested so the in-round
guard (`python tools/bench_compare.py`) is trustworthy.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans import (  # noqa: E402
    QUERIES,
)
from tools.bench_compare import compare  # noqa: E402


def test_every_query_analyzes(registry_dfs):
    """Plan resolution for all registered queries — catches schema or
    type breakage (e.g. a testdata regeneration changing a physical
    column type). Consumes the shared session-scoped construction pass
    (conftest.registry_dfs) instead of re-building all ~230 plans."""
    dfs, failures = registry_dfs
    assert not failures, failures
    assert set(dfs) == set(QUERIES)
    for name, (df, _plan) in dfs.items():
        df.schema  # analysis (already forced by executedPlan; cheap)


@pytest.mark.parametrize(
    ("new", "expect_substr"),
    [
        ({"value": 10.0, "queries": {"a": 10.0}, "errors": {"b": "boom"}}, "DNF: b"),
        ({"value": 10.0, "queries": {"a": 10.0}}, "missing queries"),
        ({"value": 100.0, "queries": {"a": 50.0, "b": 50.0}}, "total regression"),
        ({"value": 12.0, "queries": {"a": 11.0, "b": 1.0}}, "query regression: a"),
    ],
)
def test_bench_compare_flags(new, expect_substr):
    base = {"value": 10.0, "queries": {"a": 5.0, "b": 5.0}}
    problems = compare(new, base)
    assert any(expect_substr in p for p in problems), problems


def test_headline_value_cannot_improve_on_failure():
    """ADVICE r3: a failed query silently excluded from `value` made
    the headline FASTER. Failures are now priced at 2x baseline, or
    the value goes null when unpriceable."""
    from bench import headline_value

    base = {"a": 5.0, "b": 5.0}
    assert headline_value({"a": 5.0, "b": 5.0}, {}, base) == (10.0, 0.0)
    # b failed: 5.0 measured + 2*5.0 penalty > clean 10.0
    assert headline_value({"a": 5.0}, {"b": "boom"}, base) == (15.0, 10.0)
    # failure with no baseline entry: null, never silently-faster
    assert headline_value({"a": 5.0}, {"new_q": "boom"}, base) == (None, 0.0)


def test_bench_compare_passes_clean():
    base = {"value": 10.0, "queries": {"a": 5.0, "b": 5.0}}
    new = {"value": 11.0, "queries": {"a": 5.5, "b": 5.5}}
    assert compare(new, base) == []


def test_bench_compare_ignores_subfloor_noise():
    """Tiny queries jitter by multiples under load; the absolute floor
    keeps them from tripping the ratio check."""
    base = {"value": 1.0, "queries": {"a": 0.05}}
    new = {"value": 1.2, "queries": {"a": 0.3}}
    assert compare(new, base) == []
