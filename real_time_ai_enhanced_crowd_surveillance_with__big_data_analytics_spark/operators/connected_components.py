"""Connected components via alternating large-star / small-star.

The two-phase algorithm from Kiveris et al., "Connected Components in
MapReduce and Beyond" (ACM SoCC 2014): each round rewires edges toward
per-neighborhood minima, converging in O(log^2 n) rounds regardless of
component diameter — unlike min-label propagation, whose round count is
the graph diameter. Both phases are plain groupBy/join DataFrame ops,
so every step is a single shuffle keyed by node id.

This is the 100 TB scale path for near-duplicate clustering
(plans/dedup.py): dedup graphs are usually shallow, but adversarial
chains (doc A ~ B ~ C ~ ...) make diameter-bound loops unbounded;
large-star/small-star is diameter-free.

Reference parity: the reference has no graph ops — this backs the
dedup/cluster extension mandated by BASELINE.json ("north_star").
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# target edges per task for the iterative rounds: an edge row is two
# longs (~16 B + row overhead), so 1M edges ≈ 16-32 MB per task — big
# enough that scheduling doesn't dominate, small enough to never spill
EDGES_PER_PARTITION = 1_000_000
# at or below this many edges a graph is solved on the driver; k-core
# (plans/dedup.py) reads the same gate through this module attribute
DRIVER_FALLBACK_EDGES = 100_000
# star-contraction converges in O(log^2 n) rounds; this cap only guards
# against a bug
MAX_ROUNDS = 30


def _edge_partitions(n_edges: int) -> int:
    """Partition count for the iterative edge frame, derived from the
    measured edge count instead of a hardcoded constant: a
    fixed coalesce(1) serializes the rounds on a 1B-edge graph, a fixed
    32 fragments a 200k-edge one into scheduling overhead. Linear in
    the graph, floor 1 — at 100 TB a multi-billion-edge near-dup graph
    gets thousands of tasks, a just-past-driver-threshold graph gets
    one."""
    return max(1, math.ceil(n_edges / EDGES_PER_PARTITION))


def _min_neighbor(edges: DataFrame) -> DataFrame:
    """Per src: min(dst ∪ {src}) as column m."""
    return edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor to the neighborhood min.

    Operates on the symmetrized edge list; emits (v, m(u)) for each
    neighbor v > u. Self-loops (v == m) are dropped.
    """
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = _min_neighbor(sym)
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, connect all
    nodes (including the center) to the minimum.

    Input edges are first oriented src > dst so each center u sees only
    neighbors ≤ u; emits (v, m) for each such neighbor and (u, m).
    """
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    m = _min_neighbor(directed)
    joined = directed.join(m, "src")
    to_min = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    center = joined.select("src", F.col("m").alias("dst"))
    return (
        to_min.union(center)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _driver_union_find(edge_rows) -> list[tuple[int, int]]:
    """Union-by-min with path halving — component label = min node id,
    matching the distributed fixed point exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Labels (node, component) with component = min node id reachable.

    ``edges`` is an undirected edge list (either orientation, duplicates
    fine). Rounds alternate large-star / small-star until the edge list
    is a fixed point (every node points at its component min). Each
    round localCheckpoints to truncate lineage — without it the plan
    doubles per round and planning time dominates at ~10 rounds.

    Adaptive execution: up to ``DRIVER_FALLBACK_EDGES`` edges
    the graph is collected and solved with union-find on the driver —
    at that size the distributed loop is pure scheduling overhead
    (~6 shuffles × several rounds for microseconds of actual work).
    The distributed path is the default above the threshold and the
    only path that matters at 100 TB; near-dup edge graphs are a small
    fraction of the corpus but NOT driver-sized there, so the
    threshold stays conservative.

    Convergence check (distributed path): small_star output is
    canonically oriented (src > dst), so a changed-row count against
    the previous round is an exact fixed-point test, not a heuristic.

    The input edges are not deduplicated: every caller passes a pair
    frame that is distinct by construction (a groupBy output), and a
    duplicate would only inflate the edge count that sizes the gate
    and the partitions — the rounds dedupe their own output.
    """
    cur = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    n_edges = cur.count()
    if n_edges <= DRIVER_FALLBACK_EDGES:
        labels = _driver_union_find(
            [(r.src, r.dst) for r in cur.collect()]
        )
        return edges.sparkSession.createDataFrame(
            labels or [], "node long, component long"
        )
    # right-size the iterative frame to the measured graph: moderate
    # graphs collapse to few partitions (per-round scheduling overhead
    # dwarfs the work), huge graphs keep/raise parallelism
    parts = _edge_partitions(n_edges)
    if parts != cur.rdd.getNumPartitions():
        shrink = parts < cur.rdd.getNumPartitions()
        cur = (cur.coalesce(parts) if shrink else cur.repartition(parts))
        cur = cur.localCheckpoint()
    nodes = (
        cur.select(F.col("src").alias("node"))
        .union(cur.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(MAX_ROUNDS):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        # one-job symmetric-difference probe (vs two anti-join counts)
        changed = (
            nxt.withColumn("_n", F.lit(1))
            .join(cur.withColumn("_c", F.lit(1)), ["src", "dst"], "full_outer")
            .filter(F.col("_n").isNull() | F.col("_c").isNull())
            .limit(1)
            .count()
        )
        cur = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        # star-contraction converges in O(log^2 n) rounds; hitting the
        # cap means the labels below could be WRONG (a node pointing at
        # a non-minimal parent). Fail loudly rather than return bad
        # components (ADVICE r1).
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} "
            f"rounds ({n_edges} edges)"
        )
    # fixed point is a star forest: src -> component min
    parents = cur.groupBy("src").agg(F.min("dst").alias("component"))
    return (
        nodes.join(parents, nodes.node == parents.src, "left")
        .select(
            F.col("node"),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
