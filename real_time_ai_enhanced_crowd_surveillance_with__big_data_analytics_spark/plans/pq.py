"""Product quantization (PQ) over the embeddings table — the
memory-bounded ANN path the IVF index stops short of: instead of
storing full vectors per cell, PQ compresses every 64-dim embedding to
a 16-code word (16 codes over 4-dim subspaces, one nibble each → 8
bytes packed), and queries run TWO-STAGE: an asymmetric-distance (ADC)
shortlist over code words, then an exact re-rank of only the
shortlisted vectors — the FAISS IVFPQ+refine shape. At 100 TB this is
the difference between an index that fits in executor memory and one
that doesn't: 8 bytes/vector vs 256.

Standard construction (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011), re-derived integer-exact so the
driver can hash-compare against DuckDB:

- components are quantized ONCE to shifted milli-units
  (``floor(x*1000 + 0.5) + PQ_SHIFT`` — the shift keeps every value
  non-negative so integer-mean divisions agree across engines;
  squared distances are translation-invariant so the shift never
  reaches a result);
- codebooks are integer means (``sum // count`` on non-negative
  int64) — deterministic in any summation order, unlike float
  averages;
- all distances are int64 sums of int squares — order-independent, so
  codebooks, code words, shortlists, and final ranks are bit-identical
  across engines and partitionings (the embedding_covariance cure,
  applied to a whole index build). Index builds are therefore
  idempotent by arithmetic: resume/rerun/re-partition produce
  byte-identical indexes.

Training = PQ_ROUNDS k-means rounds per subspace from the
deterministic ``vec_id % K`` seed partition (fixed unrolled rounds,
the kmeans_refine / neardup_pagerank convention — the oracle unrolls
the same rounds). Hyperparameters were swept against the exact answer
at sf0.01: 4-dim subspaces beat 8-dim decisively on these unstructured
embeddings (the hardest case for PQ — no low-rank structure to
exploit) and the 64-candidate shortlist recovers recall@3 = 1.0 where
raw ADC top-3 sat near 0.4 (see pq_recall, the audit that measures
exactly this).

Scale shape — scans with TINY outputs, never an amplified shuffle
(the kmeans_refine / knn_batch pattern): each training round is one
Arrow-batched corpus pass emitting M*K*SUBDIM partial sums (~1k rows
per batch) that collapse into the next codebook via one bounded
collect (the repo's k×d k-means-partials precedent); encode is one
pass with the ~1 KB codebook broadcast; ADC search scores each batch
against a Q×M×K distance table built driver-side from the codebook
and keeps only per-batch top-R per query, so the rank shuffle sees ≤
partitions × Q × R rows; the exact re-rank touches only the Q × R
shortlisted vectors through a vec_id semi-join. The DuckDB oracles
express the identical arithmetic as relational CTE chains — the
oracle-checkable spec of what the numpy kernels compute.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

PQ_M = 16        # subspaces
PQ_SUBDIM = 4    # dims per subspace (M * SUBDIM = 64, the table's dim)
PQ_K = 16        # codes per subspace → one nibble each, 8 bytes packed
PQ_ROUNDS = 3    # fixed k-means refinement rounds (oracle unrolls 3)
PQ_MILLS = 1000  # component quantization: milli-units
PQ_SHIFT = 4096  # shift into non-negative ints (|x| ≤ 4 guaranteed)
PQ_TOPK = 3
PQ_SHORTLIST = 64  # ADC candidates re-ranked exactly per query
PQ_QUERY_N = 8   # ADC probes = vectors with vec_id < 8 (knn_batch rule)
PQ_INC_MOD = 10  # vec_id % MOD == 0 → the increment; the rest is base
# below this many training vectors the k-means rounds run driver-side
# on ONE collected quantized matrix (~512 B/vector ⇒ ≤ ~512 MB at the
# bound) instead of PQ_ROUNDS+1 scan+aggregate+collect Spark jobs —
# the connected_components/kcore adaptive-execution precedent. All
# arithmetic is int64 sums and floor divisions, so both paths produce
# bit-identical codebooks (test-pinned); the distributed rounds stay
# the default above the bound and are the only path that matters at
# 100 TB.
PQ_TRAIN_DRIVER_MAX = 1_000_000


def _quantize(pdf: pd.DataFrame) -> np.ndarray:
    """(B, M, SUBDIM) int64 shifted milli-units for an Arrow batch."""
    x = np.asarray(pdf["embedding"].tolist(), dtype="float64")
    xq = np.floor(x * PQ_MILLS + 0.5).astype(np.int64) + PQ_SHIFT
    return xq.reshape(len(x), PQ_M, PQ_SUBDIM)


def _assign(xq_m: np.ndarray, js: np.ndarray, cents: np.ndarray):
    """(codes_idx, dists) of one subspace batch against (kj, SUBDIM)
    centroids: int64 squared L2, ties to the smallest code index —
    ``js`` is ascending, so argmin's first-minimum rule IS the
    smallest-j tiebreak."""
    d = ((xq_m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    idx = d.argmin(axis=1)
    return idx, d[np.arange(len(d)), idx]


_PARTIALS_SCHEMA = (
    "m int, j long, pos int, s long, n long"
)


def _seed_or_assign(cur, xq, vids, m):
    """(js, idx) for subspace m under codebook ``cur`` (None = the
    vec_id % K seed round) — the ONE assignment rule both training
    paths share, so they cannot drift."""
    if cur is None:
        j_of = vids % PQ_K
        js = np.unique(j_of)
        idx = np.searchsorted(js, j_of)
    else:
        js, cents = cur[m]
        idx, _ = _assign(xq[:, m], js, cents)
    return js, idx


def _driver_train(xq: np.ndarray, vids: np.ndarray):
    """PQ_ROUNDS k-means rounds over one in-memory quantized matrix —
    the sub-PQ_TRAIN_DRIVER_MAX path. Same seed, same assignment, same
    int64 sum // count centroid update as the distributed rounds, so
    codebooks are bit-identical (int arithmetic has no reduction-order
    freedom)."""

    def one_round(cur):
        cb_new = {}
        for m in range(PQ_M):
            js, idx = _seed_or_assign(cur, xq, vids, m)
            live_js, cents = [], []
            for k, j in enumerate(js):
                rows = xq[idx == k, m]
                if not len(rows):
                    continue
                live_js.append(int(j))
                cents.append(rows.sum(axis=0) // len(rows))
            cb_new[m] = (
                np.asarray(live_js, dtype=np.int64),
                np.stack(cents),
            )
        return cb_new

    cb = one_round(None)
    for _ in range(PQ_ROUNDS):
        cb = one_round(cb)
    return cb


def _train_codebook(emb: DataFrame) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """{m: (js ascending, (kj, SUBDIM) int64 centroids)} — PQ_ROUNDS
    k-means rounds from the vec_id % K seed. Each round is ONE corpus
    pass yielding ≤ M*K*SUBDIM partial-sum rows per batch, combined by
    one bounded collect (k×d partials, the kmeans_refine precedent);
    no corpus-sized shuffle anywhere. Below PQ_TRAIN_DRIVER_MAX
    training vectors the rounds run driver-side on one collected
    matrix instead (bit-identical; see the constant's rationale)."""
    src = emb.select("vec_id", "embedding")
    spark = emb.sparkSession
    n_train = src.count()
    if n_train <= PQ_TRAIN_DRIVER_MAX:
        # Arrow transfer (on in get_spark): no Row per vector
        pdf = src.toPandas()
        return _driver_train(_quantize(pdf), pdf["vec_id"].to_numpy(dtype="int64"))

    def partial_pass(cb):
        bc = spark.sparkContext.broadcast(cb)

        def fn(batches):
            cur = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                xq = _quantize(pdf)
                vids = pdf["vec_id"].to_numpy(dtype="int64")
                out_m, out_j, out_pos, out_s, out_n = [], [], [], [], []
                for m in range(PQ_M):
                    js, idx = _seed_or_assign(cur, xq, vids, m)
                    for k, j in enumerate(js):
                        rows = xq[idx == k, m]
                        if not len(rows):
                            continue
                        s = rows.sum(axis=0)
                        for pos in range(PQ_SUBDIM):
                            out_m.append(m)
                            out_j.append(int(j))
                            out_pos.append(pos)
                            out_s.append(int(s[pos]))
                            out_n.append(len(rows))
                yield pd.DataFrame(
                    {
                        "m": out_m,
                        "j": out_j,
                        "pos": out_pos,
                        "s": out_s,
                        "n": out_n,
                    }
                )

        # bounded collect: ≤ M*K*SUBDIM combined rows (the k×d
        # k-means-partials precedent) — n is per-(m,j) so summing the
        # pos=0 slice alone counts each vector once
        parts = (
            src.mapInPandas(fn, schema=_PARTIALS_SCHEMA)
            .groupBy("m", "j", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        agg: dict[tuple[int, int], list] = {}
        for r in parts:
            cell = agg.setdefault(
                (r["m"], r["j"]), [np.zeros(PQ_SUBDIM, dtype=np.int64), 0]
            )
            cell[0][r["pos"]] = r["s"]
            cell[1] = r["n"]
        cb_new = {}
        for m in range(PQ_M):
            js = sorted(j for (mm, j) in agg if mm == m)
            cents = np.stack(
                [agg[(m, j)][0] // agg[(m, j)][1] for j in js]
            )
            cb_new[m] = (np.asarray(js, dtype=np.int64), cents)
        return cb_new

    cb = partial_pass(None)
    for _ in range(PQ_ROUNDS):
        cb = partial_pass(cb)
    return cb


def _encode_df(emb: DataFrame, cb) -> DataFrame:
    """(vec_id, pq_code, recon_err): one broadcast-codebook corpus
    pass. pq_code is the 16 per-subspace codes joined 'c0-c1-…' (16
    nibbles = 8 bytes packed in a real store; the string form is the
    oracle-portable representation — 64 unsigned bits overflow a
    signed int64)."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(cb)

    def fn(batches):
        cur = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            xq = _quantize(pdf)
            codes = np.empty((len(pdf), PQ_M), dtype=np.int64)
            err = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                js, cents = cur[m]
                idx, d = _assign(xq[:, m], js, cents)
                codes[:, m] = js[idx]
                err += d
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                    "pq_code": [
                        "-".join(map(str, row)) for row in codes
                    ],
                    "recon_err": err,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        fn, schema="vec_id long, pq_code string, recon_err long"
    )


def pq_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector PQ code word + reconstruction error: every embedding
    compressed to its 16-code word with recon_err = Σ_m min squared
    distance in (milli-unit)² — the audit that decides whether 8-byte
    codes are loss-acceptable corpus-wide (the embedding_quantization
    question, asked of PQ)."""
    emb = load_table(spark, "embeddings", sf)
    return _encode_df(emb, _train_codebook(emb))


def _query_mats(emb: DataFrame):
    """Quantized (Q, M, SUBDIM) query matrix — a bounded collect of
    the PQ_QUERY_N probe vectors (the knn_batch convention)."""
    rows = (
        emb.filter(F.col("vec_id") < PQ_QUERY_N)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    qids = np.asarray([r.vec_id for r in rows], dtype=np.int64)
    pdf = pd.DataFrame({"embedding": [list(r.embedding) for r in rows]})
    return qids, _quantize(pdf)


def _adc_shortlist(emb: DataFrame, cb, qmats) -> DataFrame:
    """(query_id, vec_id, adc_dist): the PQ_SHORTLIST nearest corpus
    vectors per query by asymmetric distance — each candidate costs M
    table lookups on its code word, never a vector access. One corpus
    pass emits per-batch top-R per query; the rank shuffle sees ≤
    partitions × Q × R rows."""
    spark = emb.sparkSession
    qids, qx = qmats
    # Q×M×K distance table, driver-side from the ~1 KB codebook
    dtab = {
        m: ((qx[:, None, m, :] - cb[m][1][None, :, :]) ** 2).sum(axis=2)
        for m in range(PQ_M)
    }  # {m: (Q, kj)}
    bc = spark.sparkContext.broadcast((qids, dtab, cb))

    def fn(batches):
        qi, dt, cur = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            xq = _quantize(pdf)
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            adc = np.zeros((len(pdf), len(qi)), dtype=np.int64)
            for m in range(PQ_M):
                js, cents = cur[m]
                idx, _ = _assign(xq[:, m], js, cents)
                adc += dt[m][:, idx].T
            out_q, out_v, out_d = [], [], []
            for qn, qid in enumerate(qi):
                keep = ids != qid
                vids, dists = ids[keep], adc[keep, qn]
                top = np.lexsort((vids, dists))[:PQ_SHORTLIST]
                out_q.append(np.full(len(top), qid))
                out_v.append(vids[top])
                out_d.append(dists[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    partial = emb.select("vec_id", "embedding").mapInPandas(
        fn, schema="query_id long, vec_id long, adc_dist long"
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        partial.withColumn("srk", F.row_number().over(w))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .drop("srk")
    )


def _rerank(emb: DataFrame, shortlist: DataFrame, qmats) -> DataFrame:
    """(query_id, vec_id, ed): exact quantized-L2 for exactly the
    shortlisted (query, vector) pairs — a vec_id equi-join pulls the ≤
    Q×R candidate vectors, one Arrow pass scores them against the
    broadcast query matrix."""
    spark = emb.sparkSession
    qids, qx = qmats
    bc = spark.sparkContext.broadcast((qids, qx.reshape(len(qids), -1)))
    cand = shortlist.select("query_id", "vec_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )

    def fn(batches):
        qi, qflat = bc.value
        lookup = {int(q): qflat[n] for n, q in enumerate(qi)}
        for pdf in batches:
            if not len(pdf):
                continue
            xq = _quantize(pdf).reshape(len(pdf), -1)
            qmat = np.stack(
                [lookup[int(q)] for q in pdf["query_id"]]
            )
            ed = ((xq - qmat) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype="int64"),
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                    "ed": ed,
                }
            )

    return cand.mapInPandas(
        fn, schema="query_id long, vec_id long, ed long"
    )


def pq_adc_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Two-stage PQ search: ADC shortlist of PQ_SHORTLIST candidates
    per query (code-word lookups only), then an exact quantized-L2
    re-rank of just those candidates — the FAISS refine step that
    recovers the recall raw ADC gives up (measured by pq_recall).
    Output: the PQ_TOPK nearest non-self vectors per query with the
    exact distance; ties to the smaller vec_id."""
    emb = load_table(spark, "embeddings", sf)
    qmats = _query_mats(emb)
    rer = _rerank(
        emb, _adc_shortlist(emb, _train_codebook(emb), qmats), qmats
    )
    w = Window.partitionBy("query_id").orderBy("ed", "vec_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.col("ed").alias("dist"),
        )
    )


def pq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@k of the two-stage PQ search against the EXACT answer
    under the same quantized-L2 metric — the neardup_lsh_recall audit,
    one tier down: per query, how many of the true top-PQ_TOPK
    neighbours the shortlist+re-rank returns, and whether the single
    true nearest neighbour is among them. This is the number a
    pipeline checks before trusting 8-byte codes for dedup/retrieval;
    comparing under the quantized metric isolates PQ's OWN distortion
    (codebook + shortlist truncation) from the milli-unit input
    quantization both sides share.

    Scale shape: the exact side is PQ_QUERY_N × corpus by definition
    (the ground truth being audited) — one partial-top-k corpus pass
    against the broadcast query matrix (the knn_batch shape); every
    top-k is a query-partitioned WindowGroupLimit. At 100 TB the audit
    runs over a sampled stratum exactly like the LSH recall audit."""
    emb = load_table(spark, "embeddings", sf)
    cb = _train_codebook(emb)
    qmats = _query_mats(emb)
    rer = _rerank(emb, _adc_shortlist(emb, cb, qmats), qmats)
    w = Window.partitionBy("query_id").orderBy("ed", "vec_id")
    returned = (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("query_id", "vec_id", F.lit(1).alias("hit"))
    )
    spark_ = emb.sparkSession
    qids, qx = qmats
    bc = spark_.sparkContext.broadcast(
        (qids, qx.reshape(len(qids), -1))
    )

    def exact_partial(batches):
        qi, qflat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            xq = _quantize(pdf).reshape(len(pdf), -1)
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            out_q, out_v, out_d = [], [], []
            for n, qid in enumerate(qi):
                ed = ((xq - qflat[n][None, :]) ** 2).sum(axis=1)
                keep = ids != qid
                vids, dists = ids[keep], ed[keep]
                top = np.lexsort((vids, dists))[:PQ_TOPK]
                out_q.append(np.full(len(top), qid))
                out_v.append(vids[top])
                out_d.append(dists[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "ed": np.concatenate(out_d),
                }
            )

    exact = emb.select("vec_id", "embedding").mapInPandas(
        exact_partial, schema="query_id long, vec_id long, ed long"
    )
    we = Window.partitionBy("query_id").orderBy("ed", "vec_id")
    exact_topk = exact.withColumn("rnk", F.row_number().over(we)).filter(
        F.col("rnk") <= PQ_TOPK
    )
    return (
        exact_topk.join(returned, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("overlap"),
            (
                F.sum(
                    F.when(
                        (F.col("rnk") == 1) & F.col("hit").isNotNull(),
                        1,
                    ).otherwise(0)
                )
                > 0
            ).alias("nn_found"),
        )
    )


def pq_incremental_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Encode an INCREMENT batch against the codebook trained on the
    base corpus — the production shape of PQ maintenance (mirroring
    dedup_incremental_lsh): codebooks are trained once and frozen;
    arriving vectors are only ever encoded, never retrain the index.
    Each increment vector reports its code word, its reconstruction
    error under the FROZEN codebook (drift in this number over
    batches is the retrain signal), and how many base vectors share
    its exact code word — the free O(1) near-duplicate screen that
    8-byte codes buy (same-word = quantized-identical across all 16
    subspaces).

    Scale shape: training touches only base rows (same
    tiny-partials passes); both encode passes are broadcast-codebook
    scans, and the word-collision lookup is an equi-join against the
    (distinct word, count) table — bounded by the number of DISTINCT
    words, in practice ≪ corpus size.
    """
    emb = load_table(spark, "embeddings", sf)
    is_inc = F.col("vec_id") % PQ_INC_MOD == 0
    cb = _train_codebook(emb.filter(~is_inc))
    words = _encode_df(emb, cb)
    base_words = (
        words.filter(~is_inc)
        .groupBy("pq_code")
        .agg(F.count(F.lit(1)).alias("n_base_same_word"))
    )
    return (
        words.filter(is_inc)
        .join(base_words, "pq_code", "left")
        .select(
            "vec_id",
            "pq_code",
            "recon_err",
            F.coalesce("n_base_same_word", F.lit(0)).alias(
                "n_base_same_word"
            ),
        )
    )


# --- oracles ------------------------------------------------------------------
# Shared CTE chain: quantized long frame → codebook trained on
# ``train`` rows with PQ_ROUNDS unrolled k-means rounds → codes for
# ``enc`` rows. The relational form IS the spec of what the numpy
# kernels compute — values are bit-identical because every operation
# is int64. CASTs pin DuckDB's HUGEINT sum-widening back to int64 so
# type fingerprints match Spark too.


def _round_sql(r: int, train: str) -> str:
    return f"""
d_{r} AS (
  SELECT l.vec_id, l.m, c.j,
         CAST(sum((l.xq - c.c) * (l.xq - c.c)) AS BIGINT) AS d
  FROM {train} l JOIN c_{r - 1} c ON l.m = c.m AND l.pos = c.pos
  GROUP BY l.vec_id, l.m, c.j
),
a_{r} AS (
  SELECT vec_id, m, j
  FROM d_{r} QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d, j) = 1
),
c_{r} AS (
  SELECT l.m, a.j, l.pos,
         CAST(sum(l.xq) // count(*) AS BIGINT) AS c
  FROM {train} l JOIN a_{r} a ON l.vec_id = a.vec_id AND l.m = a.m
  GROUP BY l.m, a.j, l.pos
)"""


def _pq_sql_chain(train: str = "long", enc: str = "long") -> str:
    rounds = "".join(
        "," + _round_sql(r, train) for r in range(1, PQ_ROUNDS + 1)
    )
    return f"""
long AS (
  SELECT vec_id,
         (u.idx - 1) // {PQ_SUBDIM} AS m,
         (u.idx - 1) % {PQ_SUBDIM} AS pos,
         CAST(floor(CAST(u.x AS DOUBLE) * {PQ_MILLS} + 0.5) AS BIGINT)
           + {PQ_SHIFT} AS xq
  FROM embeddings,
       LATERAL (SELECT generate_subscripts(embedding, 1) AS idx,
                       unnest(embedding) AS x) u
),
c_0 AS (
  SELECT m, vec_id % {PQ_K} AS j, pos,
         CAST(sum(xq) // count(*) AS BIGINT) AS c
  FROM {train} GROUP BY m, vec_id % {PQ_K}, pos
){rounds},
d_enc AS (
  SELECT l.vec_id, l.m, c.j,
         CAST(sum((l.xq - c.c) * (l.xq - c.c)) AS BIGINT) AS d
  FROM {enc} l JOIN c_{PQ_ROUNDS} c ON l.m = c.m AND l.pos = c.pos
  GROUP BY l.vec_id, l.m, c.j
),
codes AS (
  SELECT vec_id, m, j, d
  FROM d_enc QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d, j) = 1
)"""


_PQ_BASE_SQL = _pq_sql_chain()

_PQ_WORDS_SQL = """
words AS (
  SELECT vec_id,
         string_agg(CAST(j AS VARCHAR), '-' ORDER BY m) AS pq_code,
         CAST(sum(d) AS BIGINT) AS recon_err
  FROM codes GROUP BY vec_id
)"""


PQ_ENCODE_SQL = f"""
WITH {_PQ_BASE_SQL},
{_PQ_WORDS_SQL}
SELECT vec_id, pq_code, recon_err FROM words
"""


_PQ_SHORTLIST_SQL = f"""
dtab AS (
  SELECT l.vec_id AS query_id, l.m, c.j,
         CAST(sum((l.xq - c.c) * (l.xq - c.c)) AS BIGINT) AS d
  FROM long l JOIN c_{PQ_ROUNDS} c ON l.m = c.m AND l.pos = c.pos
  WHERE l.vec_id < {PQ_QUERY_N}
  GROUP BY l.vec_id, l.m, c.j
),
adc AS (
  SELECT t.query_id, k.vec_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
  FROM codes k JOIN dtab t ON k.m = t.m AND k.j = t.j
  WHERE k.vec_id <> t.query_id
  GROUP BY t.query_id, k.vec_id
),
short AS (
  SELECT query_id, vec_id FROM adc
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY adc_dist, vec_id) <= {PQ_SHORTLIST}
),
rerank AS (
  SELECT s.query_id, s.vec_id,
         CAST(sum((q.xq - l.xq) * (q.xq - l.xq)) AS BIGINT) AS ed
  FROM short s
  JOIN long l ON l.vec_id = s.vec_id
  JOIN long q ON q.vec_id = s.query_id AND q.m = l.m AND q.pos = l.pos
  GROUP BY s.query_id, s.vec_id
)"""


PQ_ADC_KNN_SQL = f"""
WITH {_PQ_BASE_SQL},
{_PQ_SHORTLIST_SQL}
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY ed, vec_id) AS INT) AS rank,
       vec_id AS neighbor_id, ed AS dist
FROM rerank
QUALIFY rank <= {PQ_TOPK}
"""


PQ_RECALL_SQL = f"""
WITH {_PQ_BASE_SQL},
{_PQ_SHORTLIST_SQL},
returned AS (
  SELECT query_id, vec_id FROM rerank
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ed, vec_id) <= {PQ_TOPK}
),
exact AS (
  SELECT q.vec_id AS query_id, l.vec_id,
         CAST(sum((q.xq - l.xq) * (q.xq - l.xq)) AS BIGINT) AS ed
  FROM long q JOIN long l ON q.m = l.m AND q.pos = l.pos
  WHERE q.vec_id < {PQ_QUERY_N} AND l.vec_id <> q.vec_id
  GROUP BY q.vec_id, l.vec_id
),
exact_topk AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ed, vec_id) AS rnk
  FROM exact
  QUALIFY rnk <= {PQ_TOPK}
)
SELECT e.query_id,
       CAST(count(r.vec_id) AS BIGINT) AS overlap,
       sum(CASE WHEN e.rnk = 1 AND r.vec_id IS NOT NULL
                THEN 1 ELSE 0 END) > 0 AS nn_found
FROM exact_topk e LEFT JOIN returned r
  ON e.query_id = r.query_id AND e.vec_id = r.vec_id
GROUP BY e.query_id
"""


PQ_INCREMENTAL_SQL = f"""
WITH {_pq_sql_chain(
    train=f"(SELECT * FROM long WHERE vec_id % {PQ_INC_MOD} <> 0)",
    enc="long",
)},
{_PQ_WORDS_SQL},
base_words AS (
  SELECT pq_code, count(*) AS n_base_same_word
  FROM words WHERE vec_id % {PQ_INC_MOD} <> 0 GROUP BY pq_code
)
SELECT w.vec_id, w.pq_code, w.recon_err,
       coalesce(b.n_base_same_word, 0) AS n_base_same_word
FROM words w LEFT JOIN base_words b ON w.pq_code = b.pq_code
WHERE w.vec_id % {PQ_INC_MOD} = 0
"""


PQ_QUERIES_REG = {
    "pq_encode": (pq_encode, PQ_ENCODE_SQL),
    "pq_adc_knn": (pq_adc_knn, PQ_ADC_KNN_SQL),
    "pq_recall": (pq_recall, PQ_RECALL_SQL),
    "pq_incremental_encode": (pq_incremental_encode, PQ_INCREMENTAL_SQL),
}
