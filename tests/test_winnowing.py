"""Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003).

Pins the algorithm's published guarantees on crafted documents:

1. match guarantee — any two docs sharing a substring of length
   ≥ K+W-1 share at least one selected fingerprint hash;
2. density guarantee — consecutive selected positions are never more
   than W grams apart (every window contains a selection);
3. rightmost tie-break — uniform text selects the rightmost gram of
   every window, pinning the (hash, position) packing order;
4. short docs (< W grams) yield exactly one fingerprint;
5. noise threshold — docs with no common K-gram share no fingerprint.

It also pins the batch Column pipeline position-for-position against
``winnow_positions``, an independent plain-Python statement of the same
selection rule, on the real documents table.
"""

from __future__ import annotations

import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.dedup import (
    HASH_BASE,
    HASH_MOD,
    WINNOW_K,
    WINNOW_W,
    _winnow_selected,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)


def winnow_positions(text: str) -> list[tuple[int, int]]:
    """The batch selection rule in plain Python: K-gram polynomial
    hashes, rightmost-min of every W-window (full windows at gram
    i ≥ W, plus the single partial window for docs shorter than W
    grams). Returns sorted distinct (pos, fp_hash), 1-based positions.

    Rolling evaluation: the polynomial hash of each gram is computed
    incrementally (subtract the leading char's base^(K-1) term, shift,
    add), so a document costs O(chars), not O(chars·K)."""
    n = len(text)
    n_grams = n - WINNOW_K + 1
    if n_grams <= 0:
        return []
    lead = pow(HASH_BASE, WINNOW_K - 1, HASH_MOD)
    h = 0
    for ch in text[:WINNOW_K]:
        h = (h * HASH_BASE + ord(ch)) % HASH_MOD
    hashes = [h]
    for i in range(1, n_grams):
        h = (
            (h - ord(text[i - 1]) * lead) * HASH_BASE + ord(text[i + WINNOW_K - 1])
        ) % HASH_MOD
        hashes.append(h)
    selected: set[tuple[int, int]] = set()
    first_end = min(WINNOW_W, n_grams)  # 1-based gram index of first window end
    for end in range(first_end, n_grams + 1):
        lo = max(0, end - WINNOW_W)
        # rightmost min of hashes[lo:end] (0-based slice; gram i = idx+1)
        best_idx, best_h = lo, hashes[lo]
        for j in range(lo + 1, end):
            if hashes[j] <= best_h:
                best_idx, best_h = j, hashes[j]
        selected.add((best_idx + 1, best_h))
    return sorted(selected)


def _select(spark, docs: dict[int, str]):
    df = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], ["doc_id", "text"]
    )
    rows = _winnow_selected(df).collect()
    out: dict[int, list] = {k: [] for k in docs}
    for r in rows:
        out[r.doc_id].append((r.pos, r.fp_hash))
    return {k: sorted(v) for k, v in out.items()}


GUARANTEE_LEN = WINNOW_K + WINNOW_W - 1  # 11 chars with K=8, W=4


def test_match_guarantee(spark):
    # the shared span is exactly the guarantee length, embedded at
    # different offsets inside otherwise-disjoint text
    shared = "qwertzuiopa"
    assert len(shared) == GUARANTEE_LEN
    sel = _select(
        spark,
        {
            1: "xxxxxxx" + shared + "yyyyyyyyy",
            2: "mmmmmmmmmmmmmm" + shared + "nn",
        },
    )
    h1 = {h for _, h in sel[1]}
    h2 = {h for _, h in sel[2]}
    assert h1 & h2, "docs sharing a ≥K+W-1 span must share a fingerprint"


def test_density_guarantee(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    sel = _select(spark, {1: text})
    pos = sorted(p for p, _ in sel[1])
    assert pos, "non-trivial doc selects at least one fingerprint"
    n_grams = len(text) - WINNOW_K + 1
    # first selection within the first window, last within the last
    assert pos[0] <= WINNOW_W
    assert pos[-1] > n_grams - WINNOW_W
    for a, b in zip(pos, pos[1:]):
        assert b - a <= WINNOW_W, "a window passed with no selection"
    # sampling actually thins: fewer fingerprints than grams
    assert len(pos) < n_grams


def test_rightmost_tiebreak_uniform_text(spark):
    n = 20
    sel = _select(spark, {1: "a" * n})
    n_grams = n - WINNOW_K + 1
    # all gram hashes equal → rightmost of each window wins → every
    # full-window end position is selected
    assert sorted(p for p, _ in sel[1]) == list(range(WINNOW_W, n_grams + 1))


def test_short_doc_single_fingerprint(spark):
    # K ≤ len < K+W-1: fewer than W grams → one partial window → one pick
    sel = _select(spark, {1: "abcdefghi"})  # 9 chars → 2 grams < W
    assert len(sel[1]) == 1
    # below the noise threshold: no grams at all
    sel2 = _select(spark, {1: "abc"})
    assert sel2[1] == []


def test_noise_threshold_disjoint_docs(spark):
    # no common 8-char substring → no shared fingerprint
    sel = _select(
        spark,
        {1: "abcdefghijklmnopqrst", 2: "ABCDEFGHIJKLMNOPQRST"},
    )
    h1 = {h for _, h in sel[1]}
    h2 = {h for _, h in sel[2]}
    assert h1 and h2 and not (h1 & h2)


def test_positions_are_valid_gram_offsets(spark):
    text = "some moderately long test document body for offsets"
    sel = _select(spark, {1: text})
    n_grams = len(text) - WINNOW_K + 1
    for p, h in sel[1]:
        assert 1 <= p <= n_grams
        assert h >= 0


def test_python_kernel_matches_batch_column_pipeline(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    got = {}
    for r in _winnow_selected(docs).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp_hash"]))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(texts) > 10
    for doc_id, text in texts.items():
        want = set(winnow_positions(text))
        assert got.get(doc_id, set()) == want, doc_id


def test_kernel_edge_cases():
    # below the noise threshold: no grams
    assert winnow_positions("abc") == []
    # single gram: one window, one pick
    assert len(winnow_positions("abcdefgh")) == 1
    # uniform text: rightmost tie-break selects every full-window end
    sel = winnow_positions("a" * 20)
    n_grams = 20 - 8 + 1
    assert [p for p, _ in sel] == list(range(4, n_grams + 1))
