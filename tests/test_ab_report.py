"""A/B experiment report (plans/ml_eval.py::ab_test_report): the
cross-multiplied integer decision rule vs a float Welch reference, and
a direct recomputation of the full report."""

from __future__ import annotations

import math

import duckdb
from conftest import cleared_welch_rule

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.ml_eval import (
    AB_SIGMA,
    ab_test_report,
)

SF = "/root/testdata/sf0.001"


def _welch_z(n_c, s_c, q_c, n_t, s_t, q_t) -> float:
    mc, mt = s_c / n_c, s_t / n_t
    vc = (q_c - s_c * s_c / n_c) / (n_c - 1)
    vt = (q_t - s_t * s_t / n_t) / (n_t - 1)
    return (mt - mc) / math.sqrt(vt / n_t + vc / n_c)


def test_integer_rule_equals_float_welch_threshold():
    """The cleared-denominator rule is algebraically |z| > AB_SIGMA; a
    sweep across effect sizes must agree with the float reference on
    both sides of the boundary (away from the knife edge, where float
    and exact may legitimately disagree)."""
    n_c = n_t = 400
    q_per_x = lambda xs: sum(x * x for x in xs)  # noqa: E731
    flips = {True: 0, False: 0}
    for shift in range(0, 30):
        ctrl = [100 + (i % 7) for i in range(n_c)]
        trt = [100 + (i % 7) + shift for i in range(n_t)]
        args = (
            n_c, sum(ctrl), q_per_x(ctrl),
            n_t, sum(trt), q_per_x(trt),
        )
        z = _welch_z(*args)
        if abs(abs(z) - AB_SIGMA) < 0.05:
            continue  # knife edge
        assert cleared_welch_rule(*args) == (abs(z) > AB_SIGMA), (shift, z)
        flips[abs(z) > AB_SIGMA] += 1
    assert flips[True] and flips[False], "sweep never crossed the boundary"


def test_report_matches_direct(spark):
    rows = {r["event_type"]: r for r in ab_test_report(spark, SF).collect()}
    base = duckdb.sql(
        f"SELECT event_type, user_id % 2, CAST(round(value*100) AS BIGINT) "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    cells: dict[tuple[str, int], list[int]] = {}
    for et, arm, cents in base:
        cells.setdefault((et, arm), []).append(cents)
    for et in rows:
        c, t = cells[(et, 0)], cells[(et, 1)]
        n_c, s_c, q_c = len(c), sum(c), sum(x * x for x in c)
        n_t, s_t, q_t = len(t), sum(t), sum(x * x for x in t)
        r = rows[et]
        assert (r["n_c"], r["n_t"]) == (n_c, n_t)
        assert r["mean_c_e6"] == (1_000_000 * s_c) // n_c
        assert r["mean_t_e6"] == (1_000_000 * s_t) // n_t
        assert r["effect_e6"] == (1_000_000 * s_t) // n_t - (1_000_000 * s_c) // n_c
        assert r["significant"] == cleared_welch_rule(n_c, s_c, q_c, n_t, s_t, q_t)
        assert r["srm_flag"] == (
            (n_c - n_t) ** 2 > AB_SIGMA * AB_SIGMA * (n_c + n_t)
        )
