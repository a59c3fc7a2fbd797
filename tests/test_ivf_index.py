"""Persisted IVF index (operators/ivf_index.py): probe queries must
read ONLY probed cell partitions (PartitionFilters in the scan plan),
agree with a numpy reference over those cells, and achieve nontrivial
recall vs exact brute force; the persisted cells must be
nearest_centroid's assignment."""

from __future__ import annotations

import numpy as np
import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.ivf_index import (
    build_ivf_index,
    ivf_probe_query,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.similarity import (
    nearest_centroid,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)


@pytest.fixture(scope="module")
def index(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf"))
    emb = load_table(spark, "embeddings", sf_dir)
    build_ivf_index(emb, d)
    return d, emb


def _numpy_ref(emb, q, probes, k, exclude):
    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.asarray([r.vec_id for r in rows])
    x = np.asarray([list(r.embedding) for r in rows], dtype="float64")
    labels = np.asarray([r.label for r in rows])
    # recompute cell assignment exactly as the builder does
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(list(r.embedding))
    labs = np.asarray(sorted(by_label), dtype="int64")
    cmat = np.asarray(
        [np.mean(by_label[l], axis=0) for l in labs], dtype="float64"
    )
    cn = np.linalg.norm(cmat, axis=1)
    xn = np.linalg.norm(x, axis=1)
    sims = np.round(x @ cmat.T / (xn[:, None] * cn[None, :]), 6)
    cell = labs[sims.argmax(axis=1)]
    qn = np.linalg.norm(q)
    mask = np.isin(cell, probes) & (ids != exclude)
    cos = np.round(x[mask] @ q / (xn[mask] * qn), 6)
    cand_ids = ids[mask]
    top = np.lexsort((cand_ids, -cos))[:k]
    return list(zip(cand_ids[top].tolist(), cos[top].tolist()))


def test_probe_query_prunes_partitions_and_matches_numpy(spark, index):
    d, emb = index
    q = np.asarray(
        list(emb.filter("vec_id = 0").select("embedding").head()[0]),
        dtype="float64",
    )
    res = ivf_probe_query(spark, d, q, k=10, nprobe=3, exclude_vec_id=0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # derive the probe set the same way the query does
    cent = spark.read.parquet(f"{d}/centroids").collect()
    cent.sort(key=lambda r: r["label"])
    labs = np.asarray([r["label"] for r in cent])
    cmat = np.asarray([list(r["centroid"]) for r in cent])
    cn = np.linalg.norm(cmat, axis=1)
    csim = np.round(cmat @ q / (cn * np.linalg.norm(q)), 6)
    probes = labs[np.lexsort((labs, -csim))[:3]].tolist()
    got = [(r["vec_id"], r["cosine"]) for r in res.collect()]
    want = _numpy_ref(emb, q, probes, 10, exclude=0)
    assert got == [(i, pytest.approx(c)) for i, c in want]


def test_index_covers_corpus_once(spark, index):
    d, emb = index
    stored = spark.read.parquet(f"{d}/vectors")
    assert stored.count() == emb.count()
    assert stored.select("vec_id").distinct().count() == emb.count()


def test_recall_vs_bruteforce(spark, index):
    d, emb = index
    q = np.asarray(
        list(emb.filter("vec_id = 0").select("embedding").head()[0]),
        dtype="float64",
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.asarray([r.vec_id for r in rows])
    x = np.asarray([list(r.embedding) for r in rows], dtype="float64")
    xn = np.linalg.norm(x, axis=1)
    cos = np.round(x @ q / (xn * np.linalg.norm(q)), 6)
    mask = ids != 0
    exact = set(
        ids[mask][np.lexsort((ids[mask], -cos[mask]))[:10]].tolist()
    )
    got = {
        r["vec_id"]
        for r in ivf_probe_query(
            spark, d, q, k=10, nprobe=3, exclude_vec_id=0
        ).collect()
    }
    # ANN: probed cells must recover a meaningful share of the true
    # top-10 (driver testdata clusters by label, so recall is high)
    assert len(got & exact) >= 5


def test_cell_is_nearest_centroid_assignment(spark, sf_dir, index):
    """The persisted cell of every vector is nearest_centroid's
    assigned_label: the index and the registry query share one
    assignment kernel, so they cannot drift apart."""
    d, emb = index
    cells = {
        r.vec_id: r.cell
        for r in spark.read.parquet(f"{d}/vectors").select("vec_id", "cell").collect()
    }
    want = {
        r.vec_id: r.assigned_label for r in nearest_centroid(spark, sf_dir).collect()
    }
    assert len(want) == emb.count()
    assert cells == want


def test_zero_vector_cosine_is_null(spark, tmp_path):
    """A zero vector's cosine is 0/0: null, which is what the registry
    queries and their DuckDB oracles return for it, not a guarded 0.0.
    Its cell is still the first label, as in nearest_centroid."""
    emb = spark.createDataFrame(
        [(7, 5, [0.0] * 4)], "vec_id long, label int, embedding array<float>"
    )
    d = str(tmp_path)
    build_ivf_index(emb, d)
    stored = spark.read.parquet(f"{d}/vectors").collect()
    assert [(r.vec_id, r.cell) for r in stored] == [(7, 5)]
    got = ivf_probe_query(spark, d, [1.0, 0.0, 0.0, 0.0]).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [(7, None)]
