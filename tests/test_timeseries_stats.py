"""Time-series + distribution-stats operators: independent pure-Python
recomputation at sf0.001 (a third opinion besides Spark and the DuckDB
oracle), plus cross-operator invariants the SQL parity check can't see.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.similarity import (
    _cosine_assign,
    kmeans_refine,
    nearest_centroid,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.stats import (
    HIST_BINS,
    HIST_WIDTH,
    value_histogram,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.timeseries import (
    EPISODE_THRESHOLD,
    alarm_episodes,
    gap_fill_hourly,
    rolling_active_users,
    time_weighted_avg,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)


@pytest.fixture(scope="module")
def raw_events(spark, sf_dir):
    return (
        load_table(spark, "events", sf_dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
    )


def test_alarm_episodes_match_python_runlength(spark, sf_dir, raw_events):
    by_user = defaultdict(list)
    for r in raw_events:
        by_user[r.user_id].append(r)
    expect = set()
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        run = []
        for r in rows + [None]:
            if r is not None and r.value > EPISODE_THRESHOLD:
                run.append(r)
            elif run:
                expect.add(
                    (
                        uid,
                        run[0].ts.strftime("%Y-%m-%d %H:%M:%S"),
                        run[-1].ts.strftime("%Y-%m-%d %H:%M:%S"),
                        len(run),
                        round(max(x.value for x in run), 4),
                    )
                )
                run = []
    got = {
        (r.user_id, r.episode_start, r.episode_end, r.n_events, r.peak_value)
        for r in alarm_episodes(spark, sf_dir).collect()
    }
    assert got == expect


def test_time_weighted_avg_matches_python(spark, sf_dir, raw_events):
    by_user = defaultdict(list)
    for r in raw_events:
        by_user[r.user_id].append(r)
    got = {r.user_id: r for r in time_weighted_avg(spark, sf_dir).collect()}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        if len(rows) < 2:
            assert uid not in got
            continue
        us = [int(r.ts.timestamp() * 1_000_000) for r in rows]
        num = sum(r.value * (us[i + 1] - us[i]) for i, r in enumerate(rows[:-1]))
        den = us[-1] - us[0]
        assert got[uid].n_events == len(rows)
        assert abs(got[uid].twa_value - num / den) < 1e-6
        assert abs(got[uid].span_s - den / 1e6) < 1e-6


def test_rolling_active_users_matches_python(spark, sf_dir, raw_events):
    user_days = {(r.user_id, r.ts.date()) for r in raw_events}
    days = sorted({d for _, d in user_days})
    got = {r.day: (r.dau, r.wau_7d) for r in
           rolling_active_users(spark, sf_dir).collect()}
    import datetime as dt

    span = (days[-1] - days[0]).days + 1
    assert len(got) == span
    for i in range(span):
        day = days[0] + dt.timedelta(days=i)
        dau = len({u for u, d in user_days if d == day})
        wau = len({u for u, d in user_days if 0 <= (day - d).days <= 6})
        assert got[day.strftime("%Y-%m-%d")] == (dau, wau)


def test_value_histogram_matches_python(spark, sf_dir, raw_events):
    import math

    expect = defaultdict(int)
    for r in raw_events:
        b = min(HIST_BINS - 1, max(0, math.floor(r.value / HIST_WIDTH)))
        expect[(r.event_type, b)] += 1
    rows = value_histogram(spark, sf_dir).collect()
    got = {(r.event_type, r.bin): r.n for r in rows}
    assert got == dict(expect)
    for r in rows:
        assert r.bin_lo == r.bin * HIST_WIDTH
        assert r.bin_hi == (r.bin + 1) * HIST_WIDTH


def test_gap_fill_spine_and_locf_invariants(spark, sf_dir, raw_events):
    rows = gap_fill_hourly(spark, sf_dir).collect()
    types = {r.event_type for r in raw_events}
    hours = sorted({r.bucket_hour for r in rows})
    # dense spine: every type has every hour exactly once
    per_type = defaultdict(list)
    for r in rows:
        per_type[r.event_type].append(r)
    assert set(per_type) == types
    for t, trs in per_type.items():
        assert sorted(r.bucket_hour for r in trs) == hours
        # LOCF replay: carried_sum is the last non-null sum_value so far
        carried = None
        for r in sorted(trs, key=lambda r: r.bucket_hour):
            assert r.is_gap == (r.n_events == 0)
            assert (r.sum_value is None) == r.is_gap
            if r.sum_value is not None:
                carried = r.sum_value
            assert r.carried_sum == carried
    assert sum(r.n_events for r in rows) == len(raw_events)


def test_kmeans_refine_counts_match_nearest_centroid(spark, sf_dir):
    assigns = defaultdict(int)
    for r in nearest_centroid(spark, sf_dir).collect():
        assigns[r.assigned_label] += 1
    dim_counts = defaultdict(set)
    label_n = {}
    for r in kmeans_refine(spark, sf_dir).collect():
        dim_counts[r.label].add(r.dim)
        label_n[r.label] = r.n_vectors
    # same assignment step ⇒ identical per-cluster populations, and the
    # refined centroid covers every dimension exactly once
    assert label_n == dict(assigns)
    dims = {frozenset(v) for v in dim_counts.values()}
    assert len(dims) == 1 and len(next(iter(dims))) > 0


def test_zero_vector_cosine_is_nan_and_takes_first_label():
    """A zero vector's cosine is 0/0: NaN, which mapInPandas emits as
    null (what the DuckDB oracles return), not a guarded 0.0. Its
    assignment is the first label, since argmax takes the first NaN."""
    from types import SimpleNamespace

    import numpy as np
    import pandas as pd

    labs = np.array([5, 9])
    cmat = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    bc = SimpleNamespace(value=(labs, cmat, np.linalg.norm(cmat, axis=1)))
    pdf = pd.DataFrame({"embedding": [[0.0, 0.0, 0.0], [0.0, 2.0, 0.0]]})
    with np.errstate(invalid="ignore"):  # the 0/0 under test
        labs_b, best, sims = _cosine_assign(bc, pdf)
    assert np.isnan(sims[0]).all()
    assert sims[1].tolist() == [0.0, 1.0]
    assert labs_b[best].tolist() == [5, 9]
