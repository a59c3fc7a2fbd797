"""Persisted IVF index: the disk-level form of plans/similarity.py's
in-flight IVF — build once, store the corpus cell-partitioned, and
answer queries by READING only the probed cells (parquet partition
pruning), not by scanning-then-filtering.

This is the piece that changes the I/O complexity, not just the
compute: `ivf_knn` still scans every row to assign cells per query;
with the index persisted as ``cell=<label>/`` partitions, a
``nprobe``-cell query touches ~nprobe/k of the BYTES on disk (the
test asserts PartitionFilters in the scan plan). Same layout
argument as operators/historical.py's time-partitioned store, applied
to vector search — at 100 TB this is the difference between an ANN
query costing a full-corpus scan and costing a bounded probe read.

Cell assignment and probe selection are plans/similarity.py's own
kernels (_centroid_matrix, _cosine_assign, _probe_cells, _cosine:
round-6 cosine, label-asc ties), so the persisted assignment is the
in-flight nearest_centroid one by construction. A zero vector's cosine
is 0/0 = NaN, emitted as null, as in the registry queries and their
DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.similarity import (
    _centroid_matrix,
    _cosine,
    _cosine_assign,
    _probe_cells,
    _vectors,
)


def build_ivf_index(emb: DataFrame, index_dir: str) -> None:
    """Assign every vector to its nearest centroid cell and persist the
    corpus partitioned by ``cell`` (plus the centroid table). One
    mapInPandas assignment pass + one partitioned write."""
    import numpy as np
    import pandas as pd

    labs, cmat = _centroid_matrix(emb)
    if not len(labs):
        raise ValueError("cannot build an IVF index from an empty corpus")
    spark = emb.sparkSession
    cnorm = np.linalg.norm(cmat, axis=1)
    bc = spark.sparkContext.broadcast((labs, cmat, cnorm))

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            labs_b, best, _ = _cosine_assign(bc, pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "cell": labs_b[best],
                }
            )

    (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            assign, schema="vec_id long, embedding array<float>, cell long"
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/vectors")
    )
    cent = [
        (int(lab), [float(v) for v in cmat[i]]) for i, lab in enumerate(labs)
    ]
    spark.createDataFrame(
        cent, "label long, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")


def ivf_probe_query(
    spark: SparkSession,
    index_dir: str,
    qvec,
    k: int = 10,
    nprobe: int = 3,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbours of ``qvec`` reading ONLY the ``nprobe``
    nearest cells' partitions. Probe selection is driver-side over the
    tiny centroid table; the vectors scan carries a
    ``cell IN (probes)`` filter that parquet partition pruning turns
    into reading just those directories."""
    import numpy as np
    import pandas as pd

    q = np.asarray(qvec, dtype="float64")
    cent = spark.read.parquet(f"{index_dir}/centroids").collect()
    cent.sort(key=lambda r: r["label"])
    labs = np.asarray([r["label"] for r in cent], dtype="int64")
    cmat = np.asarray([list(r["centroid"]) for r in cent], dtype="float64")
    probes = [int(v) for v in _probe_cells(labs, cmat, q, nprobe)]

    vecs = spark.read.parquet(f"{index_dir}/vectors").filter(
        F.col("cell").isin(probes)
    )
    if exclude_vec_id is not None:
        vecs = vecs.filter(F.col("vec_id") != exclude_vec_id)
    bc = spark.sparkContext.broadcast((q, np.linalg.norm(q)))

    def score(batches):
        qv, qnb = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cos = _cosine(_vectors(pdf), qv, qnb)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cosine": cos}
            )

    scored = vecs.mapInPandas(score, schema="vec_id long, cosine double")
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)
