"""kcore_decomposition: crafted families with a known 2-core (a
3-clique of identical docs survives, a 2-clique peels away), plus an
independent Python peel over the real near-dup edges and a fixpoint
assertion backing the bounded-depth spec.
"""

from __future__ import annotations

import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.dedup import (
    KCORE_K,
    KCORE_ROUNDS,
    kcore_decomposition,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans import (
    QUERIES,
)

SF = "/root/testdata/sf0.001"

X = " ".join(f"alpha{i:02d}" for i in range(24))
Y = " ".join(f"beta{i:02d}" for i in range(24))


@pytest.fixture(scope="module")
def crafted_sf(spark, tmp_path_factory):
    sf = tmp_path_factory.mktemp("kcore_sf")
    rows = [
        (1, X, "en", "s", len(X)),
        (2, X, "en", "s", len(X)),
        (3, X, "en", "s", len(X)),
        (4, Y, "en", "s", len(Y)),
        (5, Y, "en", "s", len(Y)),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(sf / "documents.parquet"))
    return str(sf)


def test_kcore_clique_survives_pair_peels(spark, crafted_sf):
    rows = {r["doc_id"]: r["core_deg"] for r in
            kcore_decomposition(spark, crafted_sf).collect()}
    # the X triangle is the 2-core; the Y pair (degree 1 each) peels
    assert rows == {1: 2, 2: 2, 3: 2}


def _peel(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for ia, ib in edges:
        adj.setdefault(ia, set()).add(ib)
        adj.setdefault(ib, set()).add(ia)
    rounds = 0
    while True:
        drop = [n for n, s in adj.items() if len(s) < k]
        if not drop:
            break
        rounds += 1
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    assert rounds <= KCORE_ROUNDS, "bounded-depth spec violated"
    return {n: len(s) for n, s in adj.items()}


def test_kcore_matches_python_peel_and_fixpoint(spark, sf_dir):
    """Independent reference: peel the anchor query's edge list in
    plain Python until fixpoint; the bounded-round Spark/SQL result
    must equal the true k-core (and the peel must converge within
    KCORE_ROUNDS, backing the unrolled oracle)."""
    edges = [
        (r["ia"], r["ib"])
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
    ]
    expect = _peel(edges, KCORE_K)
    rows = {r["doc_id"]: r["core_deg"] for r in
            kcore_decomposition(spark, SF).collect()}
    assert rows == expect


def test_clustering_coefficient_matches_python(spark, sf_dir):
    """Independent reference: dense triangle count per node + exact
    integer coefficient over the anchor query's edge list."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.dedup import (
        clustering_coefficient,
    )

    edges = [
        (r["ia"], r["ib"])
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
    ]
    adj: dict[int, set[int]] = {}
    for ia, ib in edges:
        adj.setdefault(ia, set()).add(ib)
        adj.setdefault(ib, set()).add(ia)
    rows = {r["doc_id"]: r for r in
            clustering_coefficient(spark, SF).collect()}
    assert set(rows) == set(adj)
    for v, nb in adj.items():
        tri = sum(
            1 for a in nb for b in nb if a < b and b in adj.get(a, set())
        )
        r = rows[v]
        assert r["deg"] == len(nb)
        assert r["n_tri"] == tri
        if len(nb) >= 2:
            assert r["cc_e6"] == (2_000_000 * tri) // (len(nb) * (len(nb) - 1))
            assert 0 <= r["cc_e6"] <= 1_000_000
        else:
            assert r["cc_e6"] is None


def test_driver_fallback_matches_distributed(spark, monkeypatch):
    """The r10 driver peel (up to connected_components'
    DRIVER_FALLBACK_EDGES) must be row-identical to the distributed
    loop it replaces at small scale."""
    import real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.connected_components as cc

    fast = {r["doc_id"]: r["core_deg"] for r in
            kcore_decomposition(spark, SF).collect()}
    monkeypatch.setattr(cc, "DRIVER_FALLBACK_EDGES", -1)
    dist = {r["doc_id"]: r["core_deg"] for r in
            kcore_decomposition(spark, SF).collect()}
    assert fast == dist and fast
