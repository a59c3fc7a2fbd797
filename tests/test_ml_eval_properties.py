"""Property tests for the ML-eval/statistics algebra (hypothesis):
the grouped/cross-multiplied integer forms the SQL executes must equal
the textbook definitions EXACTLY — proven over random inputs with
Fraction arithmetic, no epsilons. (Engine parity is covered by the
oracle gate; these pin the FORMULAS the SQL encodes.)"""

from __future__ import annotations

from fractions import Fraction

from conftest import cleared_welch_rule
from hypothesis import given, settings
from hypothesis import strategies as st

pairs = st.lists(
    st.tuples(st.integers(-50, 50), st.booleans()), min_size=2, max_size=120
)


@settings(max_examples=200, deadline=None)
@given(pairs)
def test_grouped_u2_equals_quadratic_mann_whitney(data):
    """auc_evaluation's histogram form: group scores, one cumulative
    pass, U×2 = Σ pos_at·(2·cum_neg_below + neg_at) — must equal the
    O(n²) pair count (2 per win, 1 per tie)."""
    if not any(p for _, p in data) or not any(not p for _, p in data):
        return
    # quadratic truth
    pos = [s for s, p in data if p]
    neg = [s for s, p in data if not p]
    u2_direct = sum(2 if sp > sn else (1 if sp == sn else 0) for sp in pos for sn in neg)
    # grouped form (the SQL shape)
    hist: dict[int, list[int]] = {}
    for s, p in data:
        h = hist.setdefault(s, [0, 0])
        h[0] += int(p)
        h[1] += int(not p)
    cum_neg = 0
    u2 = 0
    for s in sorted(hist):
        pos_at, neg_at = hist[s]
        u2 += pos_at * (2 * cum_neg + neg_at)
        cum_neg += neg_at
    assert u2 == u2_direct


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 40), min_size=2, max_size=80),
    st.lists(st.integers(0, 40), min_size=2, max_size=80),
)
def test_cross_multiplied_ks_equals_definition(xs, ys):
    """ks_score_separation's form: max |cum_x·n_y − cum_y·n_x| over the
    merged grid equals n_x·n_y·sup|F_x − F_y| exactly."""
    grid = sorted(set(xs) | set(ys))
    nx, ny = len(xs), len(ys)
    best = 0
    for g in grid:
        cx = sum(1 for v in xs if v <= g)
        cy = sum(1 for v in ys if v <= g)
        best = max(best, abs(cx * ny - cy * nx))
    sup = max(
        abs(
            Fraction(sum(1 for v in xs if v <= g), nx)
            - Fraction(sum(1 for v in ys if v <= g), ny)
        )
        for g in grid
    )
    assert Fraction(best, nx * ny) == sup


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 10_000), min_size=2, max_size=100))
def test_rank_gini_equals_mean_absolute_difference(xs):
    """revenue_gini's rank formula (2Σi·x_(i) − (n+1)Σx)/(nΣx) equals
    the mean-absolute-difference definition Σ|xi−xj| / (2n²μ)."""
    if sum(xs) == 0:
        return
    n, s = len(xs), sum(xs)
    srt = sorted(xs)
    rank_form = Fraction(
        2 * sum(i * x for i, x in enumerate(srt, 1)) - (n + 1) * s, n * s
    )
    mad = sum(abs(a - b) for a in xs for b in xs)
    mad_form = Fraction(mad, 2 * n * n) / Fraction(s, n)
    assert rank_form == mad_form


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 500), min_size=2, max_size=60),
    st.lists(st.integers(0, 500), min_size=2, max_size=60),
)
def test_cleared_welch_rule_equals_fraction_comparison(ctrl, trt):
    """ab_test_report's cleared-denominator rule is EXACTLY
    (μt−μc)² > 4·(vt/nt + vc/nc) — verified in Fractions, including
    the zero-variance edge (rule false iff means equal)."""
    n_c, s_c, q_c = len(ctrl), sum(ctrl), sum(x * x for x in ctrl)
    n_t, s_t, q_t = len(trt), sum(trt), sum(x * x for x in trt)
    lhs = (Fraction(s_t, n_t) - Fraction(s_c, n_c)) ** 2
    # sample variance v = (n·q − s²) / (n·(n−1))
    vt = Fraction(q_t * n_t - s_t * s_t, n_t * (n_t - 1))
    vc = Fraction(q_c * n_c - s_c * s_c, n_c * (n_c - 1))
    rhs = 4 * (vt / n_t + vc / n_c)
    assert cleared_welch_rule(n_c, s_c, q_c, n_t, s_t, q_t) == (lhs > rhs)
