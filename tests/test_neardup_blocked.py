"""Spectrally-blocked exact embedding near-dup: bit-identical to the
tiled BLAS anchor (losslessness of the Cauchy–Schwarz head bound in an
orthonormal basis) while certifying a measurable fraction of pairs
after only the k head dims. Oracle parity at sf0.01 (against the
anchor's own SQL) is the driver/check_oracle gate. On an empty
embeddings table every near-dup query raises the same documented
ValueError.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.similarity import (
    NEARDUP_BLOCK_CUT,
    NEARDUP_HEAD_DIMS,
    _corpus_rotation,
    embedding_neardup_blocked,
    embedding_neardup_exact,
    embedding_neardup_lsh,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)


def test_identical_to_exact_anchor(spark, sf_dir):
    want = {
        (r["ia"], r["ib"], r["cosine"])
        for r in embedding_neardup_exact(spark, sf_dir).collect()
    }
    got = {
        (r["ia"], r["ib"], r["cosine"])
        for r in embedding_neardup_blocked(spark, sf_dir).collect()
    }
    assert got == want
    assert got  # the corpus actually has near-dup pairs to compare


def test_rotation_orthonormal_and_bound_prunes(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    rot = _corpus_rotation(emb)
    dim = rot.shape[0]
    # orthonormality is what makes the bound lossless
    assert np.allclose(rot.T @ rot, np.eye(dim), atol=1e-10)
    # measured pruning: the head bound certifies a real fraction of
    # ordered pairs below the cut (test-scale replica of the plan's
    # per-tile mask, small enough to materialize locally)
    rows = emb.select("vec_id", "embedding").collect()
    mat = np.asarray([list(r.embedding) for r in rows], dtype="float64")
    mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)) @ rot
    k = min(NEARDUP_HEAD_DIMS, dim - 1)
    h, t = mat[:, :k], mat[:, k:]
    tn = np.sqrt(np.clip(1.0 - (h**2).sum(axis=1), 0.0, None))
    bound = h @ h.T + tn[:, None] * tn[None, :]
    pruned = (bound < NEARDUP_BLOCK_CUT).mean()
    assert pruned > 0.2, f"head bound pruned only {pruned:.1%} of pairs"
    # losslessness cross-check on raw values: no pruned pair is a hit
    full = mat @ mat.T
    assert not ((bound < NEARDUP_BLOCK_CUT) & (np.round(full, 6) >= 0.4)).any()


@pytest.mark.parametrize(
    "query",
    [embedding_neardup_exact, embedding_neardup_blocked, embedding_neardup_lsh],
)
def test_empty_table_raises_documented_error(spark, sf_dir, tmp_path, query):
    empty = pq.read_table(f"{sf_dir}/embeddings.parquet").slice(0, 0)
    pq.write_table(empty, str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="^empty embeddings table$"):
        query(spark, str(tmp_path)).collect()
