"""Alternating large-star/small-star CC vs a Python union-find oracle.

The property that matters at scale: round count is O(log^2 n), not
O(diameter) — the 60-node chain would defeat any small fixed
diameter bound but converges here well inside MAX_ROUNDS.
"""

from __future__ import annotations

import random

import pytest

import real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.connected_components as cc


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# the default DRIVER_FALLBACK_EDGES runs the driver union-find path; -1
# forces the distributed large-star/small-star loop — both must agree
PATHS = pytest.mark.parametrize(
    "fallback", [cc.DRIVER_FALLBACK_EDGES, -1], ids=["driver", "distributed"]
)


def _run(spark, edges, fallback, monkeypatch) -> dict[int, int]:
    monkeypatch.setattr(cc, "DRIVER_FALLBACK_EDGES", fallback)
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in cc.connected_components(df).collect()
    }


@PATHS
def test_chain_exceeds_diameter_bounds(spark, fallback, monkeypatch):
    edges = [(i, i + 1) for i in range(60)]
    got = _run(spark, edges, fallback, monkeypatch)
    assert got == {i: 0 for i in range(61)}


@PATHS
def test_two_components_with_dups_and_self_loops(spark, fallback, monkeypatch):
    edges = [(5, 3), (3, 5), (3, 3), (10, 20), (20, 30), (30, 10)]
    got = _run(spark, edges, fallback, monkeypatch)
    assert got == {3: 3, 5: 3, 10: 10, 20: 10, 30: 10}


def test_edge_partitions_scale_with_graph():
    """Partitioning of the iterative rounds is a function of the
    measured edge count, not a constant: just past the driver
    threshold collapses to 1 task, the >1M-edge branch grows linearly
    (a 1B-edge graph gets 1000 tasks, not coalesce(1))."""
    assert cc._edge_partitions(0) == 1
    assert cc._edge_partitions(cc.DRIVER_FALLBACK_EDGES + 1) == 1
    assert cc._edge_partitions(cc.EDGES_PER_PARTITION) == 1
    assert cc._edge_partitions(cc.EDGES_PER_PARTITION + 1) == 2
    assert cc._edge_partitions(5 * cc.EDGES_PER_PARTITION) == 5
    assert cc._edge_partitions(1_000_000_000) == 1000


def test_distributed_path_uses_derived_partitioning(spark, monkeypatch):
    """The distributed loop actually consults _edge_partitions (branch
    selection for a graph notionally past the 1M-edge knee is exercised
    by lowering the per-partition target, not by materializing 1M
    rows)."""
    seen: list[int] = []
    real = cc._edge_partitions
    monkeypatch.setattr(
        cc, "_edge_partitions", lambda n: seen.append(n) or real(n)
    )
    monkeypatch.setattr(cc, "DRIVER_FALLBACK_EDGES", -1)
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in cc.connected_components(df).collect()
    }
    assert got == {i: 0 for i in range(61)}
    assert seen == [60]  # sized from the measured edge count

    # >1M-edge branch: shrink the target so 60 edges select the
    # multi-partition branch, result unchanged
    monkeypatch.setattr(cc, "EDGES_PER_PARTITION", 16)
    monkeypatch.setattr(cc, "_edge_partitions", real)
    got2 = {
        r["node"]: r["component"]
        for r in cc.connected_components(df).collect()
    }
    assert got2 == got


@PATHS
def test_random_graphs_match_union_find(spark, fallback, monkeypatch):
    rng = random.Random(42)
    for _ in range(3):
        n = 80
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(60)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _run(spark, edges, fallback, monkeypatch) == _uf_components(edges)
