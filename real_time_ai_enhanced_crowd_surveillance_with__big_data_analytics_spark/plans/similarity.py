"""Similarity-search plans over the embeddings table (SURVEY.md J3,
A5-A7, W1; north-star ANN surface).

Reference semantics: CLIP text/image features are L2-normalized, scored
as ``100 * image @ text.T``, softmaxed, top-k'd, and thresholded
(main.py:31-38,70-88). Here the 3 'prompt' vectors are embeddings
vec_id 0-2 (standing in for the 3 CLIP text targets, main.py:31-35)
and every other vector is an 'image'.

Scale posture: the probe/prompt/centroid side is always tiny → it
broadcasts as a numpy matrix and the corpus side streams through one
Arrow-batched matmul per batch, never shuffling (fall detection,
nearest-centroid, IVF). The IVF variant bounds work per query to the
probed cells — the 100 TB path where brute force would scan everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..functions.text import DUCK_QUALITY
from .dedup import symmetrize_pairs

_DQ = DUCK_QUALITY.format(text="text")

# DuckDB-side cosine: list_dot_product over DOUBLE lists.
_DUCK_VEC = "list_transform({v}, x -> CAST(x AS DOUBLE))"
_DUCK_DOT = "list_dot_product({a}, {b})"


def _duck_cosine(a: str, b: str) -> str:
    av, bv = _DUCK_VEC.format(v=a), _DUCK_VEC.format(v=b)
    return (
        f"({_DUCK_DOT.format(a=av, b=bv)} / "
        f"(sqrt({_DUCK_DOT.format(a=av, b=av)}) * "
        f"sqrt({_DUCK_DOT.format(a=bv, b=bv)})))"
    )


# --- broadcast-probe scoring kernel ------------------------------------------
# Every plan below that scores the corpus against a tiny broadcast side
# (queries, prompts, hyperplanes, centroids) builds that side with
# _probe_side and scores each Arrow batch with _cosine, so all of them
# round exactly like the oracles' ``round(cosine, 6)``.

def _probe_side(emb: DataFrame, cond, *extra: str):
    """The tiny side of a broadcast-probe scoring: rows matching
    ``cond``, sorted by vec_id, as (rows, vec_ids, float64 matrix, row
    norms). ``extra`` columns ride along on ``rows``. Every caller's
    ``cond`` keeps a prefix of the vec_id range, so no matching row
    means an empty table: ValueError("empty embeddings table")."""
    import numpy as np

    rows = emb.filter(cond).select("vec_id", *extra, "embedding").collect()
    if not rows:
        raise ValueError("empty embeddings table")
    rows.sort(key=lambda r: r.vec_id)
    ids = np.asarray([r.vec_id for r in rows], dtype="int64")
    mat = np.asarray([list(r.embedding) for r in rows], dtype="float64")
    return rows, ids, mat, np.linalg.norm(mat, axis=1)


def _vectors(pdf):
    """An Arrow batch's ``embedding`` column as a float64 matrix."""
    import numpy as np

    return np.asarray(pdf["embedding"].tolist(), dtype="float64")


def _cosine(a, q, qn, scale: float = 1.0):
    """Round-6 cosine of every row of ``a`` against ``q``, a probe
    matrix (one gemm → rows × probes) or one probe vector (gemv →
    rows), with ``qn`` its norm(s). ``scale`` multiplies the dot
    products before the division (fall detection's ×100 logits; 1.0
    is exact). A zero row or probe gives 0/0 = NaN, which mapInPandas
    emits as null — what the DuckDB oracles return for it."""
    import numpy as np

    an = np.linalg.norm(a, axis=1)
    return np.round(scale * (a @ q.T) / np.multiply.outer(an, qn), 6)


def _partial_topk(ids, sims, qids, k: int):
    """A batch's local top-k per probe column of ``sims`` (cosine
    DESC, vec_id ASC) as flat (qid, vec_id, cosine) arrays. The global
    top-k is a subset of the union of these, so only ≤ batches ×
    probes × k rows reach the rank shuffle."""
    import numpy as np

    out_q, out_v, out_c = [], [], []
    for j in range(len(qids)):
        top = np.lexsort((ids, -sims[:, j]))[:k]
        out_q.append(np.full(len(top), qids[j]))
        out_v.append(ids[top])
        out_c.append(sims[top, j])
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_c)


# --- brute-force cosine top-k (baseline ANN; reference main.py:79-81) -------

def knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 nearest neighbours of vec_id 0 by cosine similarity.

    The query vector is broadcast (1 row) — the corpus side never
    shuffles; similarity is the Arrow-batched pair UDF (interpreted
    array folds are NOT codegen'd and run ~10x slower at volume);
    global top-k is sort+limit with a vec_id tiebreak (deterministic
    under ties).
    """
    from ..functions.arrays import pair_cosine_udf

    cos = pair_cosine_udf()
    emb = load_table(spark, "embeddings", sf)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cos(F.col("embedding"), F.col("qvec")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


KNN_BRUTEFORCE_SQL = f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round({_duck_cosine('embedding', 'qvec')}, 6) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


# --- batch kNN (multi-query top-k in one pass) -------------------------------

KNN_BATCH_QUERIES = 8
KNN_BATCH_K = 3


def knn_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 corpus neighbours for EACH of the first 8 vectors — the
    batch shape real similarity search runs (N probes per request, not
    one), generalizing the reference's 3-prompts-at-once scoring
    (main.py:79 scores all prompts in a single matmul).

    Distributed top-k done right: each Arrow batch scores against the
    broadcast 8×dim query matrix AND keeps only its local top-k per
    query (global top-k ⊆ union of per-partition top-k), so the final
    rank shuffle sees ≤ partitions × queries × k candidate rows — at
    100 TB the full 8N scored fan-out never moves."""
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    _, qids, qmat, qnorm = _probe_side(
        emb, F.col("vec_id") < KNN_BATCH_QUERIES
    )
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def partial_topk(batches):
        qi, qm, qn = bc.value
        for pdf in batches:
            sims = _cosine(_vectors(pdf), qm, qn)
            ids = pdf["vec_id"].to_numpy()
            q, v, c = _partial_topk(ids, sims, qi, KNN_BATCH_K)
            yield pd.DataFrame({"qid": q, "vec_id": v, "cosine": c})

    partial = (
        emb.filter(F.col("vec_id") >= KNN_BATCH_QUERIES)
        .select("vec_id", "embedding")
        .mapInPandas(partial_topk, schema="qid long, vec_id long, cosine double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_BATCH_K)
        .select("qid", "rank", "vec_id", "cosine")
    )


KNN_BATCH_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id < {KNN_BATCH_QUERIES}
), scored AS (
  SELECT q.qid, e.vec_id,
         round({_duck_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= {KNN_BATCH_QUERIES}
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= {KNN_BATCH_K}
"""


# --- exact KNN-Shapley data valuation ----------------------------------------

KNN_SHAPLEY_K = 5
SHAP_SCALE = 1_000_000_000  # e9 fixed-point: per-term floors stay exact


def knn_shapley(spark: SparkSession, sf: str) -> DataFrame:
    """Exact closed-form KNN-Shapley value of every corpus vector for
    each of the 8 query vectors — the data-valuation primitive a
    training-data pipeline runs to price points before selection
    (Jia et al., VLDB'19, Theorem 1: for the K-NN utility the Shapley
    value — normally 2ⁿ coalitions — collapses to one sorted sweep):
    sort the corpus by similarity to the query descending, then

        s_N = m_N / max(K, N)
        s_i = s_{i+1} + (m_i − m_{i+1}) · min(K, i) / (K · i)

    (the ``max(K, N)`` base covers corpora smaller than K — the K-NN
    utility divides by K even when fewer than K neighbors exist, and
    hypothesis found the plain 1/N base breaks the efficiency axiom
    exactly there; N ≫ K on every real corpus, so behavior at the
    shipped SFs is unchanged)

    with ``m_i = 1[label_i == query's label]``. The same
    3-prompts-at-once CLIP scoring seam as ``knn_batch``
    (main.py:79) provides the similarities.

    Pinned fixed-point spec: each telescoping term is the SIGNED
    product of the label delta (∈ {−1, 0, 1}) and the POSITIVE integer
    quotient ``(1e9·min(K,i)) DIV (K·i)`` — flooring the positive
    factor first, then applying the sign, sidesteps the
    floor-vs-truncate divergence engines have on negative division.
    (round_margin_audit flags the cosine column at 1.19e-4 of the
    quantum = 1.2e-10 absolute — that still clears the worst-case
    cross-engine dot-product float discrepancy (~1e-15 for 64 unit
    terms) by five orders, the same exposure the long-attested
    knn_batch / neardup cosine outputs carry.)
    ``shap_e9(i)`` is then an inclusive SUFFIX SUM of the terms (the
    last row's term is ``m_N·(1e9 DIV N)``), so both engines emit
    bit-identical BIGINTs. Ties rank by (round-6 cosine DESC, vec_id
    ASC), the family convention.

    Scale: the 8N scored fan-out is ONE mapInPandas matmul against the
    broadcast query matrix (no join), but unlike knn_batch the value
    function consumes the TOTAL ORDER per query, so the rank window
    shuffles all 8N rows into 8 partitions — an exact-anchor posture
    by definition (every point's value depends on its global rank).
    At 100 TB: value a deterministic stratum, or switch utility to the
    grid-bucketed approximation; this form is the verification anchor,
    and its efficiency axiom (Σᵢ sᵢ = utility of the full corpus =
    matching fraction of the K nearest) is asserted in tests.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    qrows, qids, qmat, qnorm = _probe_side(
        emb, F.col("vec_id") < KNN_BATCH_QUERIES, "label"
    )
    qlabs = np.asarray([r.label for r in qrows], dtype="int64")
    bc = spark.sparkContext.broadcast((qids, qlabs, qmat, qnorm))

    def fanout(batches):
        qi, ql, qm, qn = bc.value
        for pdf in batches:
            sims = _cosine(_vectors(pdf), qm, qn)
            ids = pdf["vec_id"].to_numpy()
            labs = pdf["label"].to_numpy()
            n, q = sims.shape
            yield pd.DataFrame(
                {
                    "qid": np.tile(qi, n),
                    "vec_id": np.repeat(ids, q),
                    "m": (labs[:, None] == ql[None, :])
                    .astype("int64")
                    .reshape(-1),
                    "cosine": sims.reshape(-1),
                }
            )

    scored = (
        emb.filter(F.col("vec_id") >= KNN_BATCH_QUERIES)
        .select("vec_id", "label", "embedding")
        .mapInPandas(
            fanout, schema="qid long, vec_id long, m long, cosine double"
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    wall = Window.partitionBy("qid")
    suffix = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    k = KNN_SHAPLEY_K
    ranked = scored.select(
        "qid",
        "vec_id",
        "m",
        "cosine",
        F.row_number().over(w).alias("rn"),
        F.lead("m", 1).over(w).alias("m_next"),
        F.count("*").over(wall).alias("n_corpus"),
    )
    # rn is INT (row_number): force the scaled product onto BIGINT or
    # the 1e9·min(K,rn) multiply wraps 32-bit (silently, non-ANSI)
    term = F.when(
        F.col("m_next").isNull(),
        F.col("m")
        * F.expr(
            f"CAST({SHAP_SCALE} AS BIGINT) DIV greatest({k}, n_corpus)"
        ),
    ).otherwise(
        (F.col("m") - F.col("m_next"))
        * F.expr(
            f"(CAST({SHAP_SCALE} AS BIGINT) * least({k}, rn))"
            f" DIV (CAST({k} AS BIGINT) * rn)"
        )
    )
    return ranked.withColumn("term", term).select(
        "qid",
        "vec_id",
        "rn",
        "cosine",
        F.sum("term").over(suffix).alias("shap_e9"),
    )


KNN_SHAPLEY_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel, embedding AS qvec
  FROM embeddings WHERE vec_id < {KNN_BATCH_QUERIES}
), scored AS (
  SELECT q.qid, e.vec_id,
         CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS m,
         round({_duck_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= {KNN_BATCH_QUERIES}
), ranked AS (
  SELECT *,
         row_number() OVER w AS rn,
         lead(m, 1) OVER w AS m_next,
         CAST(count(*) OVER (PARTITION BY qid) AS BIGINT) AS n_corpus
  FROM scored
  WINDOW w AS (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)
), terms AS (
  SELECT *,
         CASE WHEN m_next IS NULL
              THEN m * ({SHAP_SCALE} // greatest({KNN_SHAPLEY_K}, n_corpus))
              ELSE (m - m_next)
                   * (({SHAP_SCALE} * least({KNN_SHAPLEY_K}, rn))
                      // ({KNN_SHAPLEY_K} * rn))
         END AS term
  FROM ranked
)
SELECT qid, vec_id, rn, cosine,
       CAST(sum(term) OVER (
         PARTITION BY qid ORDER BY cosine DESC, vec_id ASC
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         AS shap_e9
FROM terms
"""


# --- CLIP fall-detection pipeline (A5-A7 + P10; main.py:70-88) ---------------

def fall_detection_softmax(spark: SparkSession, sf: str) -> DataFrame:
    """Full reference `infer` semantics: per image vector, similarity to
    the 3 prompt vectors ×100, softmax, top prompt, fall flag
    (prob of prompt 0 > 0.1 — main.py:84-86).

    Single mapInPandas pass: the 3 prompt vectors broadcast as one
    matrix and every Arrow batch computes sims + softmax + argmax in
    numpy. The previous form (broadcast crossJoin to 3N rows of
    interpreted cosine folds, then a groupBy(vec_id) shuffle to regroup
    them) paid a full-corpus shuffle for what is a per-row computation
    — this is the reference's own layout (main.py:79 does the whole
    3-prompt scoring as one matmul per image). Cross-engine parity:
    sims round to 6 decimals on BOTH engines before the softmax, and
    the fall flag compares the round-6 probability, so the oracle's
    libm and numpy's cannot disagree past the rounding."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    _, _, pmat, pnorm = _probe_side(emb, F.col("vec_id") <= 2)
    bc = spark.sparkContext.broadcast((pmat, pnorm))

    def infer(batches):
        pm, pn = bc.value
        for pdf in batches:
            sims = _cosine(_vectors(pdf), pm, pn, scale=100.0)
            m = sims.max(axis=1, keepdims=True)
            exps = np.exp(sims - m)
            probs = exps / exps.sum(axis=1, keepdims=True)
            p0 = np.round(probs[:, 0], 6)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "fall_prob": p0,
                    "top_prompt": sims.argmax(axis=1).astype("int32"),
                    "fall": p0 > 0.1,
                }
            )

    return (
        emb.filter(F.col("vec_id") > 2)
        .select("vec_id", "embedding")
        .mapInPandas(
            infer,
            schema="vec_id long, fall_prob double, top_prompt int, fall boolean",
        )
    )


FALL_DETECTION_SQL = f"""
WITH prompts AS (
  SELECT vec_id AS pid, embedding AS pvec FROM embeddings WHERE vec_id <= 2
), sims AS (
  SELECT e.vec_id, p.pid,
         round({_duck_cosine('e.embedding', 'p.pvec')} * 100.0, 6) AS sim
  FROM embeddings e CROSS JOIN prompts p
  WHERE e.vec_id > 2
), arr AS (
  SELECT vec_id, list(sim ORDER BY pid) AS sims FROM sims GROUP BY vec_id
), sm AS (
  SELECT vec_id, sims,
         list_transform(sims, x -> exp(x - list_max(sims))) AS exps
  FROM arr
)
SELECT vec_id,
       round(exps[1] / list_sum(exps), 6) AS fall_prob,
       CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS top_prompt,
       round(exps[1] / list_sum(exps), 6) > 0.1 AS fall
FROM sm
"""


# --- per-label centroids (IVF coarse quantizer build; long format) ----------

def label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Mean vector per label, long format (label, dim, centroid).

    posexplode → groupBy(label, dim) is the scale-correct layout: the
    shuffle key (label, dim) is high-cardinality and even; no driver-side
    vector assembly.
    """
    emb = load_table(spark, "embeddings", sf)
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
    )


LABEL_CENTROIDS_SQL = """
WITH long AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT label, dim, round(avg(x), 6) AS centroid, count(*) AS n_vectors
FROM long GROUP BY label, dim
"""


# --- nearest-centroid assignment (IVF cell assignment) ----------------------

def _centroid_matrix(emb: DataFrame):
    """Per-label mean vectors as a driver-side numpy matrix, labels
    ascending. The aggregate is distributed (posexplode → groupBy —
    same layout as label_centroids); only the tiny result
    (n_labels × dim) is collected, which is scale-safe because the
    label/cell count is bounded by design, not by corpus size."""
    import numpy as np

    rows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c
            ).alias("cvec")
        )
        .collect()
    )
    rows.sort(key=lambda r: r.label)
    labs = np.asarray([r.label for r in rows], dtype="int64")
    cmat = np.asarray([list(r.cvec) for r in rows], dtype="float64")
    return labs, cmat


def nearest_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """Assign each vector to its nearest label centroid by cosine — the
    IVF coarse-quantization step.

    Single mapInPandas pass: each Arrow batch hits the broadcast
    centroid matrix with one BLAS matmul and emits the argmax
    assignment directly. This replaced a broadcast crossJoin (corpus ×
    n_centroids rows) + row_number window, whose rank shuffle
    repartitioned the whole scored fan-out by vec_id — at 100 TB that
    shuffle IS the job; the matmul form never leaves the scan. Ties on
    the round-6 cosine break toward the smallest label (labels are
    ascending, argmax returns the first maximum — same order as the
    oracle's ``csim DESC, clabel ASC`` rank)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    labs, cmat = _centroid_matrix(emb)
    cnorm = np.linalg.norm(cmat, axis=1)
    bc = spark.sparkContext.broadcast((labs, cmat, cnorm))

    def assign(batches):
        for pdf in batches:
            labs_b, best, sims = _cosine_assign(bc, pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "assigned_label": labs_b[best],
                    "centroid_cosine": sims[np.arange(len(best)), best],
                }
            )

    return emb.select("vec_id", "label", "embedding").mapInPandas(
        assign,
        schema="vec_id long, label int, assigned_label int, centroid_cosine double",
    )


def _cosine_assign(bc, pdf):
    """Shared assignment kernel for nearest_centroid / kmeans_refine:
    round-6 cosine against the broadcast (labels, centroids, norms),
    argmax taking the FIRST maximum so ties break toward the smallest
    label — the rule both oracles' ``csim DESC, clabel ASC`` rank
    encodes. Returns (labels_array, best_idx, sims)."""
    labs_b, cm, cn = bc.value
    sims = _cosine(_vectors(pdf), cm, cn)
    return labs_b, sims.argmax(axis=1), sims


NEAREST_CENTROID_SQL = f"""
WITH long AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cent AS (
  SELECT label AS clabel, pos, avg(x) AS c FROM long GROUP BY label, pos
), cvecs AS (
  SELECT clabel, list(c ORDER BY pos) AS cvec FROM cent GROUP BY clabel
), scored AS (
  SELECT e.vec_id, e.label, c.clabel,
         round(
           list_dot_product({_DUCK_VEC.format(v='e.embedding')}, c.cvec) /
           (sqrt(list_dot_product({_DUCK_VEC.format(v='e.embedding')},
                                  {_DUCK_VEC.format(v='e.embedding')})) *
            sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS csim
  FROM embeddings e CROSS JOIN cvecs c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY csim DESC, clabel ASC) AS rn
  FROM scored
)
SELECT vec_id, label, clabel AS assigned_label, csim AS centroid_cosine
FROM ranked WHERE rn = 1
"""


# --- exact near-dup pairs (quadratic baseline) ------------------------------

NEARDUP_THRESHOLD = 0.4


NEARDUP_TILE_ROWS = 1024


def _tiled_pairs(emb: DataFrame, tile_scan) -> DataFrame:
    """Union over vec_id-range tiles of ≤NEARDUP_TILE_ROWS vectors of
    one full-corpus ``emb.mapInPandas(tile_scan(ids, mat))`` each →
    (ia, ib, cosine). Each tile alone reaches the driver (the vec_id
    range filter reaches the parquet scan: row-group pruning on the
    tile's min/max at scale), as its vec_ids and float64 matrix; the
    union covers each (ia < ib) pair once because ib lives in exactly
    one tile."""
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    if lo is None:
        raise ValueError("empty embeddings table")
    n_tiles = max(1, -(-(hi - lo + 1) // NEARDUP_TILE_ROWS))
    out = None
    for t in range(n_tiles):
        tlo = lo + t * NEARDUP_TILE_ROWS
        thi = tlo + NEARDUP_TILE_ROWS
        tile = (
            emb.filter((F.col("vec_id") >= tlo) & (F.col("vec_id") < thi))
            .select("vec_id", "embedding")
            .toPandas()
        )
        if not len(tile):
            continue
        part = emb.mapInPandas(
            tile_scan(tile["vec_id"].to_numpy(), _vectors(tile)),
            schema="ia long, ib long, cosine double",
        )
        out = part if out is None else out.unionAll(part)
    assert out is not None  # unreachable: n_tiles >= 1 and lo checked
    return out


def embedding_neardup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """All vector pairs with cosine ≥ threshold — the exact answer for
    near-duplicate detection, as a TILED blocked matrix product.

    The corpus is split into vec_id-range tiles of ≤NEARDUP_TILE_ROWS
    vectors; each tile is L2-normalized driver-side and broadcast
    (≤1024×64 doubles ≈ 0.5 MB per tile), and every Arrow batch of the
    full corpus hits one tile with a single BLAS matmul inside
    mapInPandas — the union over tiles covers each (ia < ib) pair
    exactly once because ib lives in exactly one tile. Peak driver
    materialization is ONE TILE, never the corpus, so the anchor
    survives a corpus 10-100× past driver memory (the earlier form
    collected the whole corpus with toPandas). Executor-side the
    broadcasts still total the corpus across the plan's lifetime —
    that's inherent to exact all-pairs; Spark broadcast storage is
    MEMORY_AND_DISK so tiles spill rather than OOM, and the per-tile
    granularity keeps any single resident block ≤0.5 MB. The matmul form itself
    replaced a row-pair cross-join whose per-pair interpreted array
    folds took 85 s at sf0.1 (~2 s now). Still O(n²) compute by
    definition — n/tile corpus scans of n×tile matmuls — so at 100 TB
    the LSH variant below is the real path; this is the correctness
    anchor."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)

    def tile_scan(ids, mat):
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((ids, mat))

        def block(batches):
            ids_b, m_b = bc.value
            for pdf in batches:
                a = _vectors(pdf)
                a = a / np.linalg.norm(a, axis=1, keepdims=True)
                sims = np.round(a @ m_b.T, 6)
                ia = pdf["vec_id"].to_numpy()
                # upper-triangle mask (ia < ib) + threshold
                mask = (sims >= NEARDUP_THRESHOLD) & (
                    ia[:, None] < ids_b[None, :]
                )
                r, c = np.nonzero(mask)
                yield pd.DataFrame(
                    {"ia": ia[r], "ib": ids_b[c], "cosine": sims[r, c]}
                )

        return block

    return _tiled_pairs(emb, tile_scan)


NEARDUP_EXACT_SQL = f"""
SELECT a.vec_id AS ia, b.vec_id AS ib,
       round({_duck_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_duck_cosine('a.embedding', 'b.embedding')}, 6) >= {NEARDUP_THRESHOLD}
"""


# --- spectrally-blocked EXACT near-dup pairs (pruned quadratic) ---------------

NEARDUP_HEAD_DIMS = 32
# prune only when the upper bound sits clearly below the rounded
# predicate's admission line (cos >= 0.4 - 5e-7): 1e-6 of slack covers
# the round-to-6 window plus rotation/arithmetic float error (~1e-12)
NEARDUP_BLOCK_CUT = NEARDUP_THRESHOLD - 1e-6
# surviving-pair fraction below which per-pair tail gather beats one
# BLAS submatrix matmul (gather materializes survivor-row copies —
# memory-bound past a few percent; measured 9.3x-superlinear at 8x
# when gathering 59% of pairs)
NEARDUP_GATHER_CUT = 0.05


def _corpus_rotation(emb: DataFrame):
    """Orthonormal dim×dim rotation aligning the corpus's principal
    directions, computed scale-safely: each Arrow batch emits ONE
    flattened dim² partial Gram matrix of its L2-normalized vectors
    (bounded by batch count, never corpus rows), the driver sums and
    eigendecomposes. Only ORTHONORMALITY matters for correctness (dot
    products are rotation-invariant and the Cauchy–Schwarz tail bound
    holds in any orthonormal basis); the eigen-ordering just maximizes
    head energy so the bound prunes as hard as the spectrum allows.
    An empty corpus has no Gram matrix: ValueError("empty embeddings
    table")."""
    import numpy as np
    import pandas as pd

    def partial(batches):
        for pdf in batches:
            a = _vectors(pdf)
            a = a / np.linalg.norm(a, axis=1, keepdims=True)
            yield pd.DataFrame({"g": [(a.T @ a).reshape(-1).tolist()]})

    parts = (
        emb.select("embedding")
        .mapInPandas(partial, schema="g array<double>")
        .collect()
    )
    if not parts:
        raise ValueError("empty embeddings table")
    dim = int(round(len(parts[0]["g"]) ** 0.5))
    gram = np.zeros((dim, dim))
    for r in parts:
        gram += np.asarray(r["g"]).reshape(dim, dim)
    evals, evecs = np.linalg.eigh(gram)
    return evecs[:, np.argsort(evals)[::-1]]  # columns, desc eigenvalue


def embedding_neardup_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT ``embedding_neardup_exact`` answer with per-pair work
    pruned by a lossless spectral-head bound (VERDICT r8 Next #3) —
    the dense-vector analogue of L2AP's ℓ2 prefix filter (Anastasiu &
    Karypis, ICDE'14): in any orthonormal basis split x̂ = (h, t) into
    the first k coordinates and the tail; then by Cauchy–Schwarz
    ``cos(a,b) = h_a·h_b + t_a·t_b ≤ h_a·h_b + ‖t_a‖‖t_b‖`` with
    ``‖t‖ = √(1−‖h‖²)`` known from the head alone. Pairs whose bound
    sits below the threshold are certified non-matches after only k of
    d multiplies; survivors resolve the remaining d−k tail dims and
    reuse the already-computed head dot, so the exact value needs no
    second pass. The basis is the corpus PCA rotation (distributed
    dim² Gram → driver ``eigh``), which concentrates head energy and
    therefore pruning power.

    Why not the centroid-triangle blocking the r8 verdict sketched:
    measured on this corpus, label/k-means cells have angular radii
    1.6–1.9 rad against a 1.16 rad threshold angle (arccos 0.4), so
    the triangle bound ``∠(a,b) ≥ ∠(c₁,c₂) − r₁ − r₂`` prunes ZERO
    cell pairs — near-isotropic 64-dim data defeats any
    few-reference-point metric bound (single-projection θ-banding
    measured 99.9% pair retention). The head bound is the form that
    still bites on isotropy (41% of pairs certified at k=32, sf0.1)
    and collapses to near-total pruning on spectrally-concentrated
    real embedding corpora where cell methods also start working.

    Tiling, broadcast discipline, and the (ia < ib) dedup mask are the
    anchor's (`embedding_neardup_exact`); per-tile state adds the
    rotated head/tail blocks. Tail resolution is HYBRID, because FLOP
    savings only pay when the realization matches the memory system:
    when survivors are sparse (≤ NEARDUP_GATHER_CUT of the block) a
    per-pair gather-einsum touches exactly the surviving pairs; when
    dense, one BLAS dgemm over the bound-surviving row×column
    submatrix (a 59%-pair gather measured 9.3×-superlinear on the 8×
    probe — fancy-index row copies dwarf the saved multiplies, while
    dgemm on the same work is near-free). Worst case (isotropy, no
    full row/col certified) the twin does the anchor's multiplies
    split head+tail plus a rank-1 bound add; best case (spectral
    skew) whole vectors leave the product after k dims. Lossless ⇒
    the anchor's SQL is this twin's oracle; the parity test asserts
    set equality plus measured pruning.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    rot = _corpus_rotation(emb)
    k = min(NEARDUP_HEAD_DIMS, rot.shape[1] - 1)
    bc_rot = spark.sparkContext.broadcast((rot, k))

    def tile_scan(ids, mat):
        mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)) @ rot
        ht, tt = mat[:, :k], mat[:, k:]
        tnorm_t = np.sqrt(np.clip(1.0 - (ht**2).sum(axis=1), 0.0, None))
        bc = spark.sparkContext.broadcast((ids, ht, tt, tnorm_t))

        def block(batches):
            r_mat, k_ = bc_rot.value
            ids_b, ht_b, tt_b, tn_b = bc.value
            for pdf in batches:
                a = _vectors(pdf)
                a = (a / np.linalg.norm(a, axis=1, keepdims=True)) @ r_mat
                hp, tp = a[:, :k_], a[:, k_:]
                tn_p = np.sqrt(
                    np.clip(1.0 - (hp**2).sum(axis=1), 0.0, None)
                )
                head_dot = hp @ ht_b.T
                ia = pdf["vec_id"].to_numpy()
                mask = (
                    head_dot + tn_p[:, None] * tn_b[None, :]
                    >= NEARDUP_BLOCK_CUT
                ) & (ia[:, None] < ids_b[None, :])
                frac = mask.mean() if mask.size else 0.0
                if frac <= NEARDUP_GATHER_CUT:
                    # sparse survivors: per-pair tail gather — FLOPs
                    # proportional to survivors, worth the row copies
                    r, c = np.nonzero(mask)
                    sims = np.round(
                        head_dot[r, c]
                        + np.einsum("ij,ij->i", tp[r], tt_b[c]),
                        6,
                    )
                    keep = sims >= NEARDUP_THRESHOLD
                    ia_out, ib_out = ia[r][keep], ids_b[c][keep]
                    cos_out = sims[keep]
                else:
                    # dense survivors: one BLAS tail matmul over the
                    # bound-surviving row/column submatrix (gather
                    # copies cost more than dgemm here); fully-pruned
                    # vectors still drop out of the product entirely
                    rsel = mask.any(axis=1)
                    csel = mask.any(axis=0)
                    sub = np.ix_(rsel, csel)
                    sims = np.round(
                        head_dot[sub] + tp[rsel] @ tt_b[csel].T, 6
                    )
                    hit = mask[sub] & (sims >= NEARDUP_THRESHOLD)
                    r, c = np.nonzero(hit)
                    ia_out = ia[rsel][r]
                    ib_out = ids_b[csel][c]
                    cos_out = sims[r, c]
                yield pd.DataFrame(
                    {"ia": ia_out, "ib": ib_out, "cosine": cos_out}
                )

        return block

    return _tiled_pairs(emb, tile_scan)


# --- LSH-banded near-dup pairs (the scale path) ------------------------------

N_HYPERPLANES = 16
BAND_SIZE = 4  # 4 bands × 4 bits
# hot-band-key guardrails for the in-bucket verify (VERDICT r9 #8):
# buckets beyond the cap are dropped (degenerate band keys — the LSH
# failure mode banding exists to avoid), and the cosine matmul is
# tiled so one task never materializes an m×m float matrix. Largest
# bucket at tested SFs is a few hundred rows (embeddings are 2k rows
# at sf0.1; test_lsh_bucket_cap pins bucket_max < cap/10) — the cap
# only ever bites adversarial skew, never a tested SF.
LSH_BUCKET_CAP = 50_000
LSH_TILE_BYTES = 64 * 1024 * 1024


def _sign_bands(emb: DataFrame, carry_embedding: bool = False) -> DataFrame:
    """Random-hyperplane LSH signatures, banded.

    Hyperplanes are the first 16 corpus vectors themselves — fully
    deterministic and oracle-portable (no RNG). Each vector gets 16 sign
    bits of cosine(x, h); bits group into 4-bit band keys. Vectors
    sharing any band key become candidate pairs — the candidate
    grouping shuffles on (band, key), never the corpus square, which is
    what bounds work at 100 TB (brute force is quadratic; banding is
    ~linear in candidates).

    All 16 bits come from ONE batched matmul per Arrow batch
    (mapInPandas against the broadcast 16×dim hyperplane matrix) — the
    earlier corpus×16 crossJoin + groupBy repacking cost an extra
    shuffle and 16× the UDF rows for the same answer. The hyperplane
    set is a fixed 16 rows regardless of corpus size, so the driver
    collect is scale-safe.

    ``carry_embedding=True`` additionally emits the vector on every
    band row, so the in-bucket verify can run without ever joining the
    corpus back (see embedding_neardup_lsh).
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    _, _, hmat, hnorm = _probe_side(emb, F.col("vec_id") < N_HYPERPLANES)
    bc = spark.sparkContext.broadcast((hmat, hnorm))
    n_bands = N_HYPERPLANES // BAND_SIZE
    weights = (2.0 ** np.arange(BAND_SIZE)).astype("int64")

    def bands(batches):
        hm, hn = bc.value
        for pdf in batches:
            # bit = round(cosine, 6) >= 0 — matches the oracle's rounded
            # cosine compare bit-for-bit (sign(dot) alone could disagree
            # inside the round-off window)
            cosm = _cosine(_vectors(pdf), hm, hn)
            bits = (cosm >= 0).astype("int64")
            keys = bits.reshape(-1, n_bands, BAND_SIZE) @ weights
            ids = pdf["vec_id"].to_numpy()
            out = {
                "vec_id": np.repeat(ids, n_bands),
                "band": np.tile(np.arange(n_bands, dtype="int32"), len(ids)),
                "band_key": keys.reshape(-1),
            }
            if carry_embedding:
                out["embedding"] = pdf["embedding"].iloc[
                    np.repeat(np.arange(len(ids)), n_bands)
                ].to_numpy()
            yield pd.DataFrame(out)

    schema = "vec_id long, band int, band_key long"
    if carry_embedding:
        schema += ", embedding array<double>"
    return emb.select("vec_id", "embedding").mapInPandas(bands, schema=schema)


def embedding_neardup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs via sign-LSH banding: candidates share ≥1 band
    key, then exact cosine verifies ≥ threshold. Approximate by design
    (recall < 1 vs embedding_neardup_exact); the candidate set — not
    the corpus square — bounds the cost.

    Verification runs IN-BUCKET: band rows carry their vector, one
    applyInPandas per (band, band_key) group computes the bucket's
    cosine matrix with a single BLAS matmul and emits only the
    surviving (ia < ib, cosine ≥ t) pairs; duplicates across bands
    collapse in one distinct (identical cosine per pair — dgemm and
    the per-pair einsum agree at round-6, verified corpus-wide at all
    SFs). The earlier form self-joined the signature table into a
    candidate PAIR STREAM (23% of the corpus square here) and then
    attached both 64-dim vectors to every candidate row via two corpus
    joins + an ArrowEvalPython pass — the payload crossed the network
    once per CANDIDATE; in-bucket it crosses once per BAND ROW
    (guide §8: move heavy bytes once, decide in place). Hot-band skew
    is the standard LSH caveat either way: a degenerate band key
    concentrates its bucket in one task here exactly as it fans into
    the quadratic join there; the cap below is that fix, implemented:
    buckets past LSH_BUCKET_CAP rows are DROPPED (an ultra-hot band
    key is a degenerate hyperplane cell — its pairs are the ones
    banding exists to avoid enumerating), and the in-bucket matmul is
    TILED so task memory is bounded (~LSH_TILE_BYTES for the sim
    block) regardless of bucket size instead of materializing the full
    m×m cosine matrix. At every tested SF the largest bucket is orders
    of magnitude under the cap (test_lsh_bucket_cap pins both
    behaviors), so the declared answer is unchanged; recall impact at
    current thresholds: none."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    banded = _sign_bands(emb, carry_embedding=True)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "ia": pd.Series([], dtype="int64"),
                "ib": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2 or len(pdf) > LSH_BUCKET_CAP:
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = _vectors(pdf)[order]
        n = np.linalg.norm(m, axis=1)
        nm = len(ids)
        # tile the row side: peak sim-block memory ≈ tile × nm × 8 B
        tile = max(1, min(nm, LSH_TILE_BYTES // (8 * nm)))
        outs = []
        for lo in range(0, nm, tile):
            hi = min(lo + tile, nm)
            sims = np.round((m[lo:hi] @ m.T) / np.outer(n[lo:hi], n), 6)
            # strict upper triangle of the full matrix, tile-local rows
            keep = sims >= NEARDUP_THRESHOLD
            keep &= np.arange(lo, hi)[:, None] < np.arange(nm)[None, :]
            r, c = np.nonzero(keep)
            if len(r):
                outs.append(
                    pd.DataFrame(
                        {"ia": ids[r + lo], "ib": ids[c], "cosine": sims[r, c]}
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    # one canonical row per pair: max(cosine) over the bands the pair
    # appears in — dgemm reduction order is bucket-shape-dependent, so
    # a distinct on the float itself could keep two rows for one pair
    # at a rounding boundary (ADVICE r9); max() is shape-independent
    return (
        banded.groupBy("band", "band_key")
        .applyInPandas(bucket_pairs, schema="ia long, ib long, cosine double")
        .groupBy("ia", "ib")
        .agg(F.max("cosine").alias("cosine"))
    )


NEARDUP_LSH_SQL = f"""
WITH hp AS (
  SELECT vec_id AS hid, embedding AS hvec FROM embeddings
  WHERE vec_id < {N_HYPERPLANES}
), bits AS (
  SELECT e.vec_id, h.hid,
         CASE WHEN round({_duck_cosine('e.embedding', 'h.hvec')}, 6) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN hp h
), bands AS (
  SELECT vec_id, CAST(floor(hid / {BAND_SIZE}) AS INT) AS band,
         CAST(sum(bit * CAST(pow(2.0, hid % {BAND_SIZE}) AS BIGINT)) AS BIGINT) AS band_key
  FROM bits GROUP BY 1, 2
), cands AS (
  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)
SELECT c.ia, c.ib,
       round({_duck_cosine('ea.embedding', 'eb.embedding')}, 6) AS cosine
FROM cands c
JOIN embeddings ea ON ea.vec_id = c.ia
JOIN embeddings eb ON eb.vec_id = c.ib
WHERE round({_duck_cosine('ea.embedding', 'eb.embedding')}, 6) >= {NEARDUP_THRESHOLD}
"""


# --- embedding near-dup clusters (LSH pairs → connected components) ----------

def embedding_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic-duplicate clusters over the embedding space: the
    sign-LSH candidate pairs (cosine ≥ threshold) become edges, and
    connected components collapse transitively-similar vectors into
    clusters — the embedding-side twin of dedup_clusters, completing
    the near-dup surface from pairs to dedup groups.

    Scale shape: edges come from the banded LSH join (never the corpus
    square), the edge graph is small relative to the corpus (near-dup
    rate), and components run alternating large-star/small-star —
    O(log² n) rounds regardless of cluster diameter."""
    pairs = embedding_neardup_lsh(spark, sf).select("ia", "ib")
    from ..operators.connected_components import connected_components

    labels = connected_components(pairs, src="ia", dst="ib").select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return labels.select(
        "vec_id", "cluster_id", F.count("*").over(w).alias("cluster_size")
    )


EMBEDDING_DEDUP_CLUSTERS_SQL = f"""
WITH pairs AS ({{lsh_pairs}}),
edges AS (
  SELECT ia, ib FROM pairs UNION SELECT ib AS ia, ia AS ib FROM pairs
), nodes AS (
  SELECT DISTINCT ia AS vec_id FROM edges
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT vec_id, vec_id FROM nodes
    UNION
    SELECT r.src, e.ib FROM r JOIN edges e ON r.dst = e.ia
  )
  SELECT * FROM r
), comp AS (
  SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


# --- IVF probed kNN (bounded-work ANN; the 100 TB query path) ---------------

IVF_NPROBE = 3


def ivf_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 neighbours of vec_id 0 searching only the ``nprobe``
    nearest centroid cells (IVF): centroid build + assignment bound the
    per-query scan to ~nprobe/k of the corpus instead of all of it.
    Results can differ from knn_bruteforce by design (ANN recall).

    One mapInPandas pass does cell assignment, probe-set filtering, AND
    query scoring per Arrow batch (two matmuls against broadcast
    constants); only the surviving ~nprobe/k fraction reaches the final
    top-k sort. The previous form (crossJoin + per-vector row_number
    window + three joins back to the corpus) shuffled the full scored
    fan-out twice; this one never shuffles anything but the top-k. The
    probe list is computed driver-side from the same centroid matrix
    with the oracle's exact tie order (csim DESC round-6, label ASC)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    labs, cmat = _centroid_matrix(emb)
    cnorm = np.linalg.norm(cmat, axis=1)
    qvec = np.asarray(
        list(
            emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
        ),
        dtype="float64",
    )
    probe = _probe_cells(labs, cmat, qvec, IVF_NPROBE)
    bc = spark.sparkContext.broadcast(
        (labs, cmat, cnorm, qvec, np.linalg.norm(qvec), probe)
    )

    def scan(batches):
        labs_b, cm, cn, qv, qnb, probe_b = bc.value
        for pdf in batches:
            a = _vectors(pdf)
            cell = labs_b[_cosine(a, cm, cn).argmax(axis=1)]
            ids = pdf["vec_id"].to_numpy()
            mask = np.isin(cell, probe_b) & (ids != 0)
            cos = _cosine(a[mask], qv, qnb)
            yield pd.DataFrame(
                {
                    "vec_id": ids[mask],
                    "label": pdf["label"].to_numpy()[mask],
                    "cosine": cos,
                }
            )

    scanned = emb.select("vec_id", "label", "embedding").mapInPandas(
        scan, schema="vec_id long, label int, cosine double"
    )
    return scanned.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10)


def _probe_cells(labs, cmat, qvec, nprobe: int):
    """The ``nprobe`` centroid cells nearest ``qvec``, in the oracle's
    tie order (round-6 cosine DESC, label ASC) — ivf_knn's probe set."""
    import numpy as np

    qsims = _cosine(cmat, qvec, np.linalg.norm(qvec))
    return labs[np.lexsort((labs, -qsims))[:nprobe]]


IVF_KNN_SQL = f"""
WITH long AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cent AS (
  SELECT label AS clabel, pos, avg(x) AS c FROM long GROUP BY label, pos
), cvecs AS (
  SELECT clabel, list(c ORDER BY pos) AS cvec FROM cent GROUP BY clabel
), scored AS (
  SELECT e.vec_id, c.clabel,
         round(
           list_dot_product({_DUCK_VEC.format(v='e.embedding')}, c.cvec) /
           (sqrt(list_dot_product({_DUCK_VEC.format(v='e.embedding')},
                                  {_DUCK_VEC.format(v='e.embedding')})) *
            sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS csim
  FROM embeddings e CROSS JOIN cvecs c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY csim DESC, clabel ASC) AS rn
  FROM scored
), assign AS (
  SELECT vec_id, clabel AS cell FROM ranked WHERE rn = 1
), probe_cells AS (
  SELECT clabel AS cell FROM ranked WHERE vec_id = 0 AND rn <= {IVF_NPROBE}
), q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id, e.label,
       round({_duck_cosine('e.embedding', 'qvec')}, 6) AS cosine
FROM assign a
JOIN embeddings e ON e.vec_id = a.vec_id
CROSS JOIN q
WHERE a.cell IN (SELECT cell FROM probe_cells) AND e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id ASC
LIMIT 10
"""


# --- SemDeDup: keep the best-quality doc per embedding cluster --------------

def semantic_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) keep-step: within each
    embedding-space near-dup cluster, keep exactly the highest-QUALITY
    document (ties → smallest doc id) — semantic dedup decided by
    pixel/text quality, not arrival order. vec_id ≡ doc_id links the
    two tables (TESTDATA.md).

    Composition: LSH cluster labels (band-bounded candidates → CC) ⋈
    documents on the id — an equi-join on the high-cardinality id,
    broadcast-sized in practice because only clustered docs survive
    the join — then one window rank per cluster. Nothing quadratic
    outside the LSH candidate generation.
    """
    from ..functions.text import quality_score

    clusters = embedding_dedup_clusters(spark, sf)
    docs = load_table(spark, "documents", sf).select(
        F.col("doc_id"), "text"
    )
    from pyspark.sql import Window

    joined = clusters.join(
        docs, clusters.vec_id == docs.doc_id
    ).select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        quality_score(F.col("text")).alias("quality"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return joined.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )


SEMANTIC_KEEP_CANONICAL_SQL_TEMPLATE = """
WITH comp_src AS ({clusters}),
q AS (
  SELECT doc_id,
         {_DQ} AS quality
  FROM documents
)
SELECT c.vec_id AS doc_id, c.cluster_id, c.cluster_size, q.quality,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY q.quality DESC, c.vec_id ASC) = 1 AS keep
FROM comp_src c JOIN q ON q.doc_id = c.vec_id
"""


# --- one Lloyd refinement step (k-means over the label quantizer) -----------

def kmeans_refine(spark: SparkSession, sf: str) -> DataFrame:
    """One Lloyd iteration of k-means seeded from the per-label
    centroids: re-assign every vector to its nearest centroid by
    cosine, then re-average per assigned cluster (long format, matching
    ``label_centroids``).

    The assignment is the same single mapInPandas broadcast-matmul pass
    as ``nearest_centroid`` — the embedding rides through the Arrow
    batch so the re-average needs NO join back to the corpus — and the
    re-average is the posexplode → groupBy(label, dim) layout whose
    shuffle key is high-cardinality and even. This is the body of the
    distributed k-means loop (driver iterates, each step is one scan +
    one shuffle); one step with a deterministic seed is the
    SQL-expressible spec the oracle can check. Ties on the round-6
    cosine break toward the smallest label exactly as in
    ``nearest_centroid``.
    """
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    labs, cmat = _centroid_matrix(emb)
    import numpy as np

    cnorm = np.linalg.norm(cmat, axis=1)
    bc = spark.sparkContext.broadcast((labs, cmat, cnorm))

    def assign(batches):
        for pdf in batches:
            labs_b, best, _sims = _cosine_assign(bc, pdf)
            yield pd.DataFrame(
                {
                    "assigned_label": labs_b[best],
                    "embedding": pdf["embedding"],
                }
            )

    assigned = emb.select("embedding").mapInPandas(
        assign, schema="assigned_label int, embedding array<float>"
    )
    return (
        assigned.select(
            "assigned_label", F.posexplode("embedding").alias("pos", "x")
        )
        .groupBy(
            F.col("assigned_label").alias("label"),
            (F.col("pos") + 1).alias("dim"),
        )
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
    )


KMEANS_REFINE_SQL = f"""
WITH long AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cent AS (
  SELECT label AS clabel, pos, avg(x) AS c FROM long GROUP BY label, pos
), cvecs AS (
  SELECT clabel, list(c ORDER BY pos) AS cvec FROM cent GROUP BY clabel
), scored AS (
  SELECT e.vec_id, c.clabel,
         round(
           list_dot_product({_DUCK_VEC.format(v='e.embedding')}, c.cvec) /
           (sqrt(list_dot_product({_DUCK_VEC.format(v='e.embedding')},
                                  {_DUCK_VEC.format(v='e.embedding')})) *
            sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS csim
  FROM embeddings e CROSS JOIN cvecs c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY csim DESC, clabel ASC) AS rn
  FROM scored
), assign AS (
  SELECT vec_id, clabel FROM ranked WHERE rn = 1
), elong AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT a.clabel AS label, e.dim,
       round(avg(e.x), 6) AS centroid, count(*) AS n_vectors
FROM assign a JOIN elong e USING (vec_id)
GROUP BY a.clabel, e.dim
"""


# --- semi-supervised label propagation over the near-dup graph --------------

LP_SEED_MOD = 4   # vec_id % 4 == 0 keeps its true label as a seed
LP_ROUNDS = 2     # fixed propagation depth (oracle unrolls the same 2)


def label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-supervised label spreading over the LSH near-dup graph —
    the label-bootstrapping pass a training-data pipeline uses to
    extend a small trusted label set (here: every 4th vector keeps its
    ``label``) across unlabeled near-duplicates: each round, an
    unlabeled node adopts the most frequent label among its already-
    labeled neighbors (ties -> smallest label), and labels are
    monotone — once assigned, never re-voted — so the result is
    deterministic and converges without oscillation.

    Scale shape: edges come from the banded sign-LSH join (never the
    corpus square); each of the FIXED ``LP_ROUNDS`` rounds is one
    hash join on node keys + one groupBy + one per-node window
    (partitioned, never global) — linear in edge count per round.
    Output is every vector with its final label and the round it was
    labeled (0 = seed, NULL = never reached by the graph).
    """
    emb = load_table(spark, "embeddings", sf)
    pairs = embedding_neardup_lsh(spark, sf).select("ia", "ib")
    # materialize the edge set once: every round references it from
    # both the vote join and the anti-join, and without truncation the
    # whole LSH pipeline (mapInPandas signatures + candidate join +
    # cosine UDF) would re-execute per reference — measured 35 s vs
    # ~4 s at sf0.1 for the same answer. Symmetrize via explode, not
    # union(swap): the union form executed the verify pipeline once
    # per branch inside this same checkpoint (see symmetrize_pairs)
    edges = symmetrize_pairs(pairs).localCheckpoint()
    labels = emb.filter(F.col("vec_id") % LP_SEED_MOD == 0).select(
        F.col("vec_id").alias("node"),
        F.col("label").alias("lab"),
        F.lit(0).alias("rnd"),
    )
    from pyspark.sql import Window

    for r in range(1, LP_ROUNDS + 1):
        votes = (
            edges.join(
                labels.select(F.col("node").alias("ib"), "lab"), "ib"
            )
            .join(
                labels.select(F.col("node").alias("ia")), "ia", "left_anti"
            )
            .groupBy("ia", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("ia").orderBy(
            F.col("cnt").desc(), F.col("lab").asc()
        )
        assigned = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("ia").alias("node"), "lab", F.lit(r).alias("rnd")
            )
        )
        labels = labels.unionByName(assigned)
    return emb.select("vec_id").join(
        labels, emb.vec_id == labels.node, "left"
    ).select(
        "vec_id",
        F.col("lab").alias("final_label"),
        F.col("rnd").alias("labeled_round"),
    )


def _lp_round_sql(r: int) -> str:
    prev = f"l{r - 1}"
    return f"""
c{r} AS (
  SELECT e.ia AS node, l.lab, count(*) AS cnt
  FROM edges e JOIN {prev} l ON e.ib = l.node
  WHERE e.ia NOT IN (SELECT node FROM {prev})
  GROUP BY 1, 2
), a{r} AS (
  SELECT node, lab, {r} AS rnd FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lab ASC) AS rn
    FROM c{r}
  ) WHERE rn = 1
), l{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM a{r})"""


LABEL_PROPAGATION_SQL_TEMPLATE = (
    """
WITH pairs AS ({lsh_pairs}),
edges AS (SELECT ia, ib FROM pairs UNION ALL SELECT ib, ia FROM pairs),
l0 AS (
  SELECT vec_id AS node, label AS lab, 0 AS rnd FROM embeddings
  WHERE vec_id % """
    + str(LP_SEED_MOD)
    + """ = 0
),"""
    + ",".join(_lp_round_sql(r) for r in range(1, LP_ROUNDS + 1))
    + f"""
SELECT e.vec_id, l.lab AS final_label, l.rnd AS labeled_round
FROM embeddings e LEFT JOIN l{LP_ROUNDS} l ON e.vec_id = l.node
"""
)


# --- PageRank centrality over the near-dup graph ----------------------------

PR_ROUNDS = 3          # fixed damped-power iterations (oracle unrolls 3)
PR_SCALE = 10**12      # total rank mass, integer-scaled
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio


def neardup_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Damped PageRank over the sign-LSH near-dup graph — the
    graph-centrality curation signal: vectors with high rank sit at
    the center of large near-duplicate families (boilerplate,
    templates, mirrored content) and are the first candidates for
    down-weighting in a training mix, while rank ≈ the teleport base
    marks genuinely unique content.

    Determinism: all arithmetic is int64 — rank mass ``PR_SCALE`` is
    split by integer division, per-round contributions are
    ``rank div out_degree``, and damping is the exact ratio 85/100
    applied as ``(x * 85) div 100`` — so sums are order-independent
    and the result is identical across partitionings and engines (the
    same midpoint-proofing as hourly_autocorr / embedding_covariance).
    Dangling/isolated mass is dropped rather than redistributed (the
    oracle mirrors this), which keeps every round a pure edge join.

    Scale shape: the iteration state is bounded by the GRAPH, not the
    corpus. Nodes outside the edge set can never leave the teleport
    base (edges are symmetrized, so only edge endpoints have out-degree
    or in-degree; everyone else's rank is exactly ``base`` after round
    one) — so the power iteration runs over ``deg`` rows only, carrying
    ``outdeg`` in the rank frame so each FIXED round is ONE edge join +
    one partial-aggregated groupBy. Edges and degrees come from the
    banded LSH join (never the corpus square) and are
    localCheckpoint-materialized once; the corpus-sized table is
    touched exactly once, in the final left join that constant-folds
    non-graph nodes to ``base``. No global windows, no driver-side
    collect beyond one count().
    """
    emb = load_table(spark, "embeddings", sf)
    pairs = embedding_neardup_lsh(spark, sf).select("ia", "ib")
    # symmetrize once: every round's contribution join and the final
    # degree join reference the same edge set (see label_propagation
    # for the measured cost of NOT truncating the LSH lineage here).
    # explode-symmetrize = ONE execution of the LSH verify pipeline
    edges = symmetrize_pairs(pairs).localCheckpoint()
    # deg is the graph-node set with out-degrees attached; checkpoint
    # it too — it seeds the iteration and re-enters every round
    deg = (
        edges.groupBy("ia")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint()
    )
    n_nodes = emb.count()  # one scalar aggregate — bounded by design
    r0 = PR_SCALE // n_nodes
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * r0 // PR_DAMP_DEN
    ranks = deg.withColumn("rank", F.lit(r0))
    for _ in range(PR_ROUNDS):
        contrib = ranks.select(
            "ia", F.expr("rank div outdeg").alias("c")
        )
        incoming = (
            edges.join(contrib, "ia")
            .groupBy(F.col("ib").alias("ia"))
            .agg(F.sum("c").alias("inc"))
        )
        # symmetric edges mean every graph node has ≥1 incoming edge,
        # so the left join never actually nulls — kept left+coalesce
        # so the arithmetic spec reads the same as the oracle's
        ranks = deg.join(incoming, "ia", "left").select(
            "ia",
            "outdeg",
            (
                F.lit(base)
                + F.expr(
                    f"(coalesce(inc, 0L) * {PR_DAMP_NUM})"
                    f" div {PR_DAMP_DEN}"
                )
            ).alias("rank"),
        )
    return (
        emb.select(F.col("vec_id"))
        .join(ranks, emb.vec_id == ranks.ia, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("rank"), F.lit(base)).alias(
                "pagerank_scaled"
            ),
            F.coalesce(F.col("outdeg"), F.lit(0)).alias("degree"),
        )
    )


def _pr_round_sql(r: int) -> str:
    prev = f"r{r - 1}"
    return f"""
c{r} AS (
  SELECT d.ia, p.rank // d.outdeg AS c
  FROM {prev} p JOIN deg d ON p.node = d.ia
), i{r} AS (
  -- CAST: DuckDB sum(BIGINT) widens to HUGEINT; the rank arithmetic
  -- and the output type fingerprint must stay int64 like Spark's
  SELECT e.ib AS node, CAST(sum(c.c) AS BIGINT) AS inc
  FROM edges e JOIN c{r} c ON e.ia = c.ia GROUP BY e.ib
), r{r} AS (
  SELECT n.node,
         (SELECT base FROM params)
           + (coalesce(i.inc, 0) * {PR_DAMP_NUM}) // {PR_DAMP_DEN} AS rank
  FROM nodes n LEFT JOIN i{r} i ON n.node = i.node
)"""


NEARDUP_PAGERANK_SQL_TEMPLATE = (
    f"""
WITH pairs AS ({{lsh_pairs}}),
edges AS (SELECT ia, ib FROM pairs UNION ALL SELECT ib, ia FROM pairs),
deg AS (SELECT ia, count(*) AS outdeg FROM edges GROUP BY ia),
nodes AS (SELECT vec_id AS node FROM embeddings),
params AS (
  SELECT CAST({PR_SCALE} AS BIGINT) // count(*) AS r0,
         (({PR_DAMP_DEN - PR_DAMP_NUM})
          * (CAST({PR_SCALE} AS BIGINT) // count(*)))
           // {PR_DAMP_DEN} AS base
  FROM embeddings
),
r0 AS (SELECT node, (SELECT r0 FROM params) AS rank FROM nodes),"""
    + ",".join(_pr_round_sql(r) for r in range(1, PR_ROUNDS + 1))
    + f"""
SELECT r.node AS vec_id, r.rank AS pagerank_scaled,
       coalesce(d.outdeg, 0) AS degree
FROM r{PR_ROUNDS} r LEFT JOIN deg d ON r.node = d.ia
"""
)


# --- LSH recall audit vs the exact anchor -----------------------------------

def neardup_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Per-pair recall audit of the sign-LSH near-dup path against the
    exact all-pairs anchor: every true near-dup pair (cosine ≥
    threshold, from the tiled exact matmul) flagged with whether the
    banded LSH join found it. This is the measurement a pipeline runs
    BEFORE trusting LSH at scale — the pairs it misses (no shared band
    among the 4×4-bit signatures) are exactly the dedup leakage the
    production path would ship.

    LSH-verified pairs are a subset of the exact set by construction
    (candidates pass the same rounded-cosine threshold), so one left
    join from the exact side is the complete confusion surface: no
    false positives exist to report.

    Scale shape: the exact anchor is O(n²) by definition, so at 100 TB
    this audit runs on a bounded stratum (one vec_id tile range, the
    same filter the tiled anchor already pushes to the parquet scan)
    rather than corpus-wide; the join itself is an equi-join on the
    pair key. At test scale it covers the whole corpus.
    """
    exact = embedding_neardup_exact(spark, sf)
    lsh = (
        embedding_neardup_lsh(spark, sf)
        .select("ia", "ib")
        .withColumn("hit", F.lit(1))
    )
    return exact.join(lsh, ["ia", "ib"], "left").select(
        "ia",
        "ib",
        "cosine",
        F.col("hit").isNotNull().alias("found_by_lsh"),
    )


NEARDUP_LSH_RECALL_SQL_TEMPLATE = """
WITH exact AS ({exact}),
lsh AS ({lsh_pairs})
SELECT e.ia, e.ib, e.cosine, l.ia IS NOT NULL AS found_by_lsh
FROM exact e LEFT JOIN lsh l ON e.ia = l.ia AND e.ib = l.ib
"""


# --- Matryoshka truncation recall (dimension-ablation audit) -----------------

MATRYOSHKA_DIM = 32
MATRYOSHKA_K = 5


def matryoshka_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall of truncated-dimension cosine search against full-dim
    search — the audit behind Matryoshka-style embedding truncation
    (Kusupati et al., 2022): before shipping a cheaper d/2 index, a
    pipeline measures how much of the full-dim top-k each query keeps.

    Shape = knn_batch's partial-top-k discipline, doubled: every Arrow
    batch scores the broadcast query matrix under BOTH metrics (full
    64-dim cosine, first-MATRYOSHKA_DIM cosine) and emits only its
    local top-k per (query, metric), so the rank shuffle stays
    ≤ partitions × queries × k × 2 regardless of corpus size.  Global
    rank, then per-query intersection count.  Cosines round to 6dp
    before ranking with a vec_id tiebreak (both engines identical).
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    _, qids, qmat, qnorm = _probe_side(
        emb, F.col("vec_id") < KNN_BATCH_QUERIES
    )
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def partial_topk(batches):
        qi, qm, qn_f = bc.value
        qt = qm[:, :MATRYOSHKA_DIM]
        qn_t = np.linalg.norm(qt, axis=1)
        for pdf in batches:
            a = _vectors(pdf)
            ids = pdf["vec_id"].to_numpy()
            parts = []
            for metric, sims in (
                (0, _cosine(a, qm, qn_f)),
                (1, _cosine(a[:, :MATRYOSHKA_DIM], qt, qn_t)),
            ):
                q, v, c = _partial_topk(ids, sims, qi, MATRYOSHKA_K)
                parts.append(
                    pd.DataFrame(
                        {
                            "qid": q,
                            "metric": np.full(len(q), metric),
                            "vec_id": v,
                            "cosine": c,
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    partial = (
        emb.filter(F.col("vec_id") >= KNN_BATCH_QUERIES)
        .select("vec_id", "embedding")
        .mapInPandas(
            partial_topk,
            schema="qid long, metric int, vec_id long, cosine double",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid", "metric").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    ranked = partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= MATRYOSHKA_K
    )
    return (
        ranked.groupBy("qid", "vec_id")
        .agg(
            F.count_if(F.col("metric") == 0).alias("in_full"),
            F.count_if(F.col("metric") == 1).alias("in_trunc"),
        )
        .groupBy("qid")
        .agg(
            F.count_if(
                (F.col("in_full") > 0) & (F.col("in_trunc") > 0)
            ).alias("overlap")
        )
        .select(
            "qid",
            "overlap",
            (F.col("overlap") * 1_000_000 / MATRYOSHKA_K)
            .cast("long")
            .alias("recall_ppm"),
        )
    )


MATRYOSHKA_RECALL_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id < {KNN_BATCH_QUERIES}
), scored AS (
  SELECT q.qid, c.vec_id,
         round({_duck_cosine('c.embedding', 'q.qv')}, 6) AS cf,
         round({_duck_cosine(f'c.embedding[1:{MATRYOSHKA_DIM}]',
                             f'q.qv[1:{MATRYOSHKA_DIM}]')}, 6) AS ct
  FROM embeddings c, q
  WHERE c.vec_id >= {KNN_BATCH_QUERIES}
), ranked AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY cf DESC, vec_id) AS rf,
         row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vec_id) AS rt
  FROM scored
)
SELECT qid,
       CAST(SUM(CASE WHEN rf <= {MATRYOSHKA_K} AND rt <= {MATRYOSHKA_K}
                     THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
       CAST(SUM(CASE WHEN rf <= {MATRYOSHKA_K} AND rt <= {MATRYOSHKA_K}
                     THEN 1 ELSE 0 END) * 1000000 // {MATRYOSHKA_K}
            AS BIGINT) AS recall_ppm
FROM ranked GROUP BY qid
"""


def knn_label_mrr(spark: SparkSession, sf: str) -> DataFrame:
    """Per query vector (the ``knn_batch`` first-8 set): the rank of
    its FIRST same-label corpus neighbor under the exact brute-force
    cosine ordering, and the fixed-point reciprocal rank — the
    retrieval-eval summary (MRR) that grades an embedding space by
    whether semantically-matching items surface first, completing the
    eval family (AUC/AP grade a scorer, KS a separation, recall@k the
    ANN indexes; MRR grades the RANKING).

    Sort-free exact rank: the first same-label neighbor is the argmax
    of (cosine, −vec_id) over same-label corpus rows (one map-side
    combinable struct-max), and its rank is 1 + the count of corpus
    rows STRICTLY better under the same order (one conditional count)
    — so the 8×N scored fan-out is consumed by two partial aggregates
    and never globally sorted or shuffled raw; only per-partition
    partials move. Cosines round to 6 dp on both engines
    (``pair_cosine_udf`` convention), making the order — and therefore
    the integer rank — engine-exact. ``rr_e9 = 1e9 DIV rank``.

    Queries with no same-label corpus vector keep a row with NULL
    rank/rr (left join), so the output is always query-set-sized.
    """
    from ..functions.arrays import pair_cosine_udf

    cos = pair_cosine_udf()
    emb = load_table(spark, "embeddings", sf)
    qdf = emb.filter(F.col("vec_id") < KNN_BATCH_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
    )
    # localCheckpointed: the scored fan-out (cross-join + Arrow cosine,
    # the dominant stage) is consumed by BOTH the argmax and the rank
    # count, and its lineage has no Exchange for ReuseExchange to dedup
    # — without materialization the corpus scan + UDF runs twice.
    scored = (
        emb.filter(F.col("vec_id") >= KNN_BATCH_QUERIES)
        .crossJoin(F.broadcast(qdf))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            cos(F.col("embedding"), F.col("qvec")).alias("cos"),
        )
        .localCheckpoint()
    )
    best = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .groupBy("qid")
        .agg(
            F.max(
                F.struct(
                    F.col("cos").alias("c"), (-F.col("vec_id")).alias("nv")
                )
            ).alias("b")
        )
        .select(
            "qid",
            F.col("b.c").alias("best_cos"),
            (-F.col("b.nv")).alias("best_vec_id"),
        )
    )
    ranked = (
        scored.join(F.broadcast(best), "qid")
        .groupBy("qid", "best_vec_id", "best_cos")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("cos") > F.col("best_cos"))
                        | (
                            (F.col("cos") == F.col("best_cos"))
                            & (F.col("vec_id") < F.col("best_vec_id"))
                        ),
                        1,
                    ).otherwise(0)
                )
            ).alias("first_rank")
        )
    )
    return (
        qdf.select("qid", "qlabel")
        .join(ranked, "qid", "left")
        .select(
            "qid",
            "qlabel",
            "best_vec_id",
            F.col("best_cos").alias("best_cosine"),
            "first_rank",
            F.expr("1000000000 DIV first_rank").alias("rr_e9"),
        )
    )


KNN_LABEL_MRR_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel, embedding AS qvec
  FROM embeddings WHERE vec_id < {KNN_BATCH_QUERIES}
), scored AS (
  SELECT q.qid, q.qlabel, c.vec_id, c.label,
         round({_duck_cosine('c.embedding', 'q.qvec')}, 6) AS cos
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id >= {KNN_BATCH_QUERIES}
), best_c AS (
  SELECT qid, max(cos) AS best_cos
  FROM scored WHERE label = qlabel GROUP BY qid
), best AS (
  SELECT s.qid, b.best_cos, min(s.vec_id) AS best_vec_id
  FROM scored s JOIN best_c b USING (qid)
  WHERE s.label = s.qlabel AND s.cos = b.best_cos
  GROUP BY 1, 2
), ranked AS (
  SELECT s.qid, b.best_vec_id, b.best_cos,
         1 + CAST(sum(CASE WHEN s.cos > b.best_cos
                            OR (s.cos = b.best_cos
                                AND s.vec_id < b.best_vec_id)
                           THEN 1 ELSE 0 END) AS BIGINT) AS first_rank
  FROM scored s JOIN best b USING (qid)
  GROUP BY 1, 2, 3
)
SELECT q.qid, q.qlabel, r.best_vec_id, r.best_cos AS best_cosine,
       r.first_rank, 1000000000 // r.first_rank AS rr_e9
FROM q LEFT JOIN ranked r USING (qid)
"""


SIMILARITY_QUERIES = {
    # the spectral-head bound is lossless, so the exact anchor's SQL
    # IS this twin's oracle (VERDICT r8 Next #3)
    "embedding_neardup_blocked": (
        embedding_neardup_blocked,
        NEARDUP_EXACT_SQL,
    ),
    "matryoshka_recall": (matryoshka_recall, MATRYOSHKA_RECALL_SQL),
    "knn_label_mrr": (knn_label_mrr, KNN_LABEL_MRR_SQL),
    "label_propagation": (
        label_propagation,
        LABEL_PROPAGATION_SQL_TEMPLATE.format(lsh_pairs=NEARDUP_LSH_SQL),
    ),
    "neardup_pagerank": (
        neardup_pagerank,
        NEARDUP_PAGERANK_SQL_TEMPLATE.format(lsh_pairs=NEARDUP_LSH_SQL),
    ),
    "neardup_lsh_recall": (
        neardup_lsh_recall,
        NEARDUP_LSH_RECALL_SQL_TEMPLATE.format(
            exact=NEARDUP_EXACT_SQL, lsh_pairs=NEARDUP_LSH_SQL
        ),
    ),
    "knn_bruteforce": (knn_bruteforce, KNN_BRUTEFORCE_SQL),
    "knn_batch": (knn_batch, KNN_BATCH_SQL),
    "knn_shapley": (knn_shapley, KNN_SHAPLEY_SQL),
    "fall_detection_softmax": (fall_detection_softmax, FALL_DETECTION_SQL),
    "label_centroids": (label_centroids, LABEL_CENTROIDS_SQL),
    "nearest_centroid": (nearest_centroid, NEAREST_CENTROID_SQL),
    "embedding_neardup_exact": (embedding_neardup_exact, NEARDUP_EXACT_SQL),
    "embedding_neardup_lsh": (embedding_neardup_lsh, NEARDUP_LSH_SQL),
    "embedding_dedup_clusters": (
        embedding_dedup_clusters,
        EMBEDDING_DEDUP_CLUSTERS_SQL.format(lsh_pairs=NEARDUP_LSH_SQL),
    ),
    "ivf_knn": (ivf_knn, IVF_KNN_SQL),
    "kmeans_refine": (kmeans_refine, KMEANS_REFINE_SQL),
    "semantic_keep_canonical": (
        semantic_keep_canonical,
        SEMANTIC_KEEP_CANONICAL_SQL_TEMPLATE.format(
            clusters=EMBEDDING_DEDUP_CLUSTERS_SQL.format(
                lsh_pairs=NEARDUP_LSH_SQL
            ),
            _DQ=_DQ,
        ),
    ),
}
