"""Distribution-statistics plans: fixed-bin histograms, winsorized
moments, and within-group quantile normalization.

The corpus-curation use: histograms drive mixture dashboards,
winsorized means are the robust per-source length/quality summary, and
quantile normalization puts scores from different sources on one scale
before cross-source sampling (the FineWeb/DCLM recipe normalizes
quality per dump before the global threshold).

All three are pure Column expressions — no UDFs — and every bin edge /
clip computation uses floor/least/greatest integer-exact arithmetic so
both engines bucket identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

HIST_WIDTH = 20.0
HIST_BINS = 25  # covers value ∈ [0, 500); out-of-range clamps to edge bins


def value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type fixed-bin histogram of ``value`` (25 bins × width 20,
    clamped edge bins). Sparse form — empty bins are absent; the dense
    spine is a calendar-style sequence join away if a UI needs it.

    One scan + one partial-aggregated shuffle on the bounded
    (type, bin) key; the bin id is ``least(greatest(floor(v/w)))`` —
    integer-exact on both engines, no interpolation to disagree on.
    """
    events = load_table(spark, "events", sf)
    bin_id = F.least(
        F.lit(HIST_BINS - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / HIST_WIDTH)),
    ).cast("int")
    return (
        events.groupBy("event_type", bin_id.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * HIST_WIDTH).alias("bin_lo"),
            ((F.col("bin") + 1) * HIST_WIDTH).alias("bin_hi"),
            "n",
        )
    )


VALUE_HISTOGRAM_SQL = f"""
WITH binned AS (
  SELECT event_type,
         CAST(least({HIST_BINS - 1},
                    greatest(0, floor(value / {HIST_WIDTH}))) AS INT) AS bin
  FROM events
)
SELECT event_type, bin,
       bin * CAST({HIST_WIDTH} AS DOUBLE) AS bin_lo,
       (bin + 1) * CAST({HIST_WIDTH} AS DOUBLE) AS bin_hi,
       count(*) AS n
FROM binned
GROUP BY event_type, bin
"""


# --- winsorized per-source moments ------------------------------------------

WINSOR_LO = 0.05
WINSOR_HI = 0.95


def winsorized_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source length summary with 5%/95% winsorization: clip
    ``n_chars`` at the exact per-source percentiles, then average —
    the outlier-robust per-source size profile.

    The percentile dim is ≤ n_sources rows, localCheckpointed and
    broadcast back onto the scan (same shape as ``robust_outliers``);
    the corpus is never shuffled. 100 TB path: ``approx_percentile``
    fused into a single pass.
    """
    docs = load_table(spark, "documents", sf)
    pct = (
        docs.groupBy("source")
        .agg(
            F.expr(f"percentile(n_chars, {WINSOR_LO})").alias("p_lo"),
            F.expr(f"percentile(n_chars, {WINSOR_HI})").alias("p_hi"),
        )
        .localCheckpoint()
    )
    clipped = docs.join(F.broadcast(pct), "source").withColumn(
        "clipped",
        F.least(F.greatest(F.col("n_chars").cast("double"), "p_lo"), "p_hi"),
    )
    return clipped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("raw_mean"),
        F.round(F.avg("clipped"), 6).alias("winsor_mean"),
        F.round(F.min("clipped"), 6).alias("winsor_min"),
        F.round(F.max("clipped"), 6).alias("winsor_max"),
    )


WINSORIZED_STATS_SQL = f"""
WITH pct AS (
  SELECT source,
         quantile_cont(n_chars, {WINSOR_LO}) AS p_lo,
         quantile_cont(n_chars, {WINSOR_HI}) AS p_hi
  FROM documents GROUP BY source
), clipped AS (
  SELECT d.source, d.n_chars,
         least(greatest(CAST(d.n_chars AS DOUBLE), p.p_lo), p.p_hi) AS clipped
  FROM documents d JOIN pct p USING (source)
)
SELECT source,
       count(*) AS n_docs,
       round(avg(n_chars), 6) AS raw_mean,
       round(avg(clipped), 6) AS winsor_mean,
       round(min(clipped), 6) AS winsor_min,
       round(max(clipped), 6) AS winsor_max
FROM clipped
GROUP BY source
"""


# --- within-source quantile normalization -----------------------------------

def quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Map each doc's length onto its within-source quantile
    (percent_rank) — scores from different sources become comparable
    before a global threshold (the per-dump normalization step in
    FineWeb-style curation).

    One exchange on source; percent_rank is a per-partition sort with
    a deterministic (n_chars, doc_id) tiebreak. Sources are few but
    large at 100 TB — the window sort spills per partition rather than
    concentrating (range-partitioned sort within each source key via
    AQE skew handling; for a truly monster source, two-phase
    width_bucket over approx quantiles is the documented fallback in
    ``length_bucket_batches``).
    """
    docs = load_table(spark, "documents", sf)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("length_quantile"),
    )


QUANTILE_NORMALIZE_SQL = """
SELECT doc_id, source, n_chars,
       round(percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id), 6)
         AS length_quantile
FROM documents
"""


# --- population-stability drift between month halves ------------------------

PSI_EPS = 0.0005  # Laplace-style floor so empty bins don't blow up the log


def value_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index of the per-type ``value`` distribution
    between the first and second half of the observed window — the
    standard drift monitor for a feature feeding a model (PSI > 0.2 is
    the conventional "investigate" line).

    Reuses the integer-exact histogram bins; the expected/actual bin
    shares join on the bounded (type, bin) key, so everything after the
    one scan-sized aggregate is dashboard-sized. The midpoint split is
    derived from min/max inside the plan (no driver collect); bin
    shares are floored at PSI_EPS on both engines so ln() stays finite
    with identical arithmetic.
    """
    events = load_table(spark, "events", sf)
    # the half-window split is integer epoch-seconds arithmetic on both
    # engines — no timestamp reconstruction, no tz-dependent casts
    ev = events.select(
        "event_type", "value", F.unix_timestamp("ts").alias("tsec")
    )
    mid = ev.agg(
        F.floor((F.min("tsec") + F.max("tsec")) / 2)
        .cast("long")
        .alias("mid_s")
    )
    bin_id = F.least(
        F.lit(HIST_BINS - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / HIST_WIDTH)),
    ).cast("int")
    binned = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        bin_id.alias("bin"),
        (F.col("tsec") < F.col("mid_s")).alias("is_base"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = Window.partitionBy("event_type")
    shares = counts.select(
        "event_type",
        "bin",
        F.greatest(
            F.col("n_base") / F.sum("n_base").over(tot), F.lit(PSI_EPS)
        ).alias("p_base"),
        F.greatest(
            F.col("n_cur") / F.sum("n_cur").over(tot), F.lit(PSI_EPS)
        ).alias("p_cur"),
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.round(
                F.sum(
                    (F.col("p_cur") - F.col("p_base"))
                    * F.log(F.col("p_cur") / F.col("p_base"))
                ),
                6,
            ).alias("psi")
        )
        .withColumn("drifted", F.col("psi") > 0.2)
    )


VALUE_DRIFT_PSI_SQL = f"""
WITH ev AS (
  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
  FROM events
), mid AS (
  SELECT CAST(floor((min(tsec) + max(tsec)) / 2.0) AS BIGINT) AS mid_s
  FROM ev
), binned AS (
  SELECT event_type,
         CAST(least({HIST_BINS - 1},
                    greatest(0, floor(value / {HIST_WIDTH}))) AS INT) AS bin,
         e.tsec < m.mid_s AS is_base
  FROM ev e CROSS JOIN mid m
), counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS n_base,
         sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS n_cur
  FROM binned GROUP BY event_type, bin
), shares AS (
  SELECT event_type, bin,
         greatest(n_base / CAST(sum(n_base) OVER (PARTITION BY event_type)
                                AS DOUBLE), {PSI_EPS}) AS p_base,
         greatest(n_cur / CAST(sum(n_cur) OVER (PARTITION BY event_type)
                               AS DOUBLE), {PSI_EPS}) AS p_cur
  FROM counts
)
SELECT event_type,
       round(sum((p_cur - p_base) * ln(p_cur / p_base)), 6) AS psi,
       round(sum((p_cur - p_base) * ln(p_cur / p_base)), 6) > 0.2 AS drifted
FROM shares
GROUP BY event_type
"""


# --- cross-source exact-duplicate overlap matrix ----------------------------

def source_overlap_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """How many exact-duplicate fingerprints each PAIR of sources
    shares — the corpus-governance view that tells you which feeds
    mirror each other before you set per-source quotas.

    Distinct (fingerprint, source) pairs self-join on the fingerprint —
    work is Σ (sources-per-fingerprint)², bounded by the source count
    (not corpus size) per fingerprint; only digests move. Ordered
    (src_a < src_b) so each pair appears once.
    """
    docs = load_table(spark, "documents", sf)
    fps = docs.select(F.sha2("text", 256).alias("fp"), "source").distinct()
    a = fps.select("fp", F.col("source").alias("src_a"))
    b = fps.select("fp", F.col("source").alias("src_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared_fps"))
    )


SOURCE_OVERLAP_MATRIX_SQL = """
WITH fps AS (
  SELECT DISTINCT sha256(text) AS fp, source FROM documents
)
SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
"""


SKEW_TOP = 10  # heaviest join keys reported


def key_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew diagnostic for the events fact: the SKEW_TOP
    heaviest user_id keys with their share of all rows and the
    cumulative share — the number that decides whether a planned
    user-keyed join/agg leans on AQE skew-join splitting (on in
    ``get_spark``) before it runs at 100 TB.

    Key-cardinality shuffle (map-side combined), then the top-SKEW_TOP
    cut happens FIRST via ``orderBy().limit()`` — planned as
    TakeOrderedAndProject, a distributed partial top-k (each partition
    keeps its local top SKEW_TOP; the driver merges) — so the rank +
    cumulative-share window runs over exactly SKEW_TOP rows, never the
    full distinct-user_id frame. cum_share at rank r depends only on
    the top-r rows (all inside the cut), and the total rides as a
    broadcast 1-row aggregate computed over the FULL per-key table, so
    the slice-then-rank plan is value-identical to ranking everything
    (bm25_topk pattern, indexing.py)."""
    events = load_table(spark, "events", sf)
    per_key = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    total = per_key.agg(F.sum("n").cast("double").alias("_total"))
    top = per_key.orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    ).limit(SKEW_TOP)
    w = Window.orderBy(F.col("n").desc(), F.col("user_id").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "user_id",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
            F.round(
                F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("_total"),
                6,
            ).alias("cum_share"),
        )
    )


KEY_SKEW_REPORT_SQL = f"""
WITH per_key AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
), t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM per_key)
SELECT rank, user_id, n, share, cum_share FROM (
  SELECT row_number() OVER (ORDER BY n DESC, user_id ASC) AS rank,
         user_id, n,
         round(n / t.total, 6) AS share,
         round(sum(n) OVER (ORDER BY n DESC, user_id ASC
                            ROWS UNBOUNDED PRECEDING) / t.total, 6)
           AS cum_share
  FROM per_key CROSS JOIN t
) WHERE rank <= {SKEW_TOP}
"""


EMB_DIM = 64  # driver embeddings table dimension (TESTDATA.md)


def embedding_covariance(spark: SparkSession, sf: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding columns — the
    preparatory statistic for PCA / whitening / ZCA of an embedding
    store (cov_ij = E[x_i x_j] − μ_i μ_j).

    Scale shape (what MLlib's RowMatrix does internally): one
    mapInPandas pass computes per-Arrow-batch partials — Gram XᵀX via
    BLAS, column sums, row count — and emits d(d+1)/2 rows per batch;
    the reduce is a groupBy on the bounded (i, j) key (2 080 groups at
    d=64). The corpus never shuffles; only d² floats per partition do.
    Eigen-decomposition of the 64×64 result is driver-side by design.

    Determinism (r5 driver red — hash mismatch with rows/schema green):
    float partial sums are order-dependent, and the partition/Arrow
    batch boundaries differ between engines, so ``round(cov, 6)`` could
    flip on a rounding boundary. Cure (the ``hourly_autocorr`` pattern):
    quantize each component ONCE to an int64 grid — floor(x·1000 + 0.5),
    identical IEEE ops in both engines — accumulate integer-exact
    Σxy/Σx/Σy/n (products ≤1e6, int64-safe to ~9e12 rows), and divide /
    round only in the final projection from identical integers. The
    float64 Gram matmul below is EXACT on the quantized values: per-batch
    partial sums stay ≤~1e10 ≪ 2^53. Covariance is reported on the
    original scale (÷1e6 for the 1e3-per-axis quantization).
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf)
    iu = np.triu_indices(EMB_DIM)

    def partials(batches):
        for pdf in batches:
            x = np.asarray(pdf["embedding"].tolist(), dtype="float64")
            if x.size == 0:
                continue
            q = np.floor(x * 1000.0 + 0.5)  # exact int values in float64
            gram = q.T @ q
            s = q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "sxy": gram[iu].astype("int64"),
                    "sx": s[iu[0]].astype("int64"),
                    "sy": s[iu[1]].astype("int64"),
                    "n": np.int64(len(x)),
                }
            )

    acc = emb.select("embedding").mapInPandas(
        partials, schema="i int, j int, sxy long, sx long, sy long, n long"
    )
    tot = acc.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("n").alias("n"),
    )
    # + 0.0 normalizes IEEE negative zero: Spark's BigDecimal round
    # emits 0.0 where DuckDB's round keeps -0.0, and repr-level
    # canonicalizers distinguish them
    return tot.select(
        "i",
        "j",
        (
            F.round(
                (
                    F.col("sxy") / F.col("n")
                    - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
                )
                / F.lit(1000000.0),
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


EMBEDDING_COVARIANCE_SQL = f"""
WITH flat AS (
  SELECT vec_id,
         unnest(range({EMB_DIM})) AS i,
         unnest(list_transform(range({EMB_DIM}),
                k -> CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000.0
                                + 0.5) AS BIGINT))) AS v
  FROM embeddings
)
SELECT CAST(a.i AS INTEGER) AS i,
       CAST(b.i AS INTEGER) AS j,
       round((CAST(sum(a.v * b.v) AS DOUBLE) / count(*)
              - (CAST(sum(a.v) AS DOUBLE) / count(*))
                * (CAST(sum(b.v) AS DOUBLE) / count(*)))
             / 1000000.0, 6) + 0.0 AS cov
FROM flat a
JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""


def sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """The mergeable-sketch pattern that makes distinct counts work at
    100 TB: build ONE datasketches HLL per day (``hll_sketch_agg``),
    persist/reuse it, and answer any coarser grain by UNIONING sketches
    (``hll_union_agg``) instead of rescanning raw events — the total
    row here is computed purely from the 5 daily sketches. This is the
    capability ``approx_count_distinct`` lacks (its binary state is
    not exposed), and the reason sketch columns, not counts, are what
    a 100 TB rollup table stores.

    Oracle-checkable form (the approx_aggregates recipe): output
    carries the EXACT per-grain distinct counts plus a boolean
    asserting the sketch estimate landed inside 3σ of the published
    lgK=12 error (~1.6% rse → 5% bound, generous); estimates
    themselves stay out of the output. Exact counts use the two-phase
    (day, user) pre-dedup so no Expand ever multiplies the scan."""
    events = load_table(spark, "events", sf)
    days = events.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    sk = days.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    exact_day = (
        days.groupBy("day", "user_id")
        .agg(F.lit(1))
        .groupBy("day")
        .agg(F.count("*").alias("n_users"))
    )
    day_rows = exact_day.join(sk, "day").select(
        F.lit("day").alias("grain"),
        "day",
        "n_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_users"))
            <= F.lit(0.05) * F.col("n_users")
        ).alias("hll_in_bounds"),
    )
    exact_total = (
        days.groupBy("user_id")
        .agg(F.lit(1))
        .agg(F.count("*").alias("n_users"))
    )
    union_est = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est")
    )
    total_row = exact_total.crossJoin(F.broadcast(union_est)).select(
        F.lit("total").alias("grain"),
        F.lit(None).cast("string").alias("day"),
        "n_users",
        (
            F.abs(F.col("_est") - F.col("n_users"))
            <= F.lit(0.05) * F.col("n_users")
        ).alias("hll_in_bounds"),
    )
    return day_rows.unionByName(total_row)


SKETCH_ROLLUP_SQL = """
WITH days AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id
  FROM events
)
SELECT 'day' AS grain, day, count(DISTINCT user_id) AS n_users,
       TRUE AS hll_in_bounds
FROM days GROUP BY day
UNION ALL
SELECT 'total' AS grain, CAST(NULL AS VARCHAR) AS day,
       count(DISTINCT user_id) AS n_users, TRUE AS hll_in_bounds
FROM days
"""


# --- Benford first-digit forensics audit -------------------------------------

# log10(1 + 1/d) in e6 fixed point — the nine constants sum to exactly
# 1,000,000, so the expected distribution is itself a valid e6 pmf.
BENFORD_E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    """First-significant-digit distribution of order totals per
    priority class vs Benford's law — the standard fabricated-numbers
    forensics screen (synthetic or tampered monetary data fails it).

    The first digit comes from the integer cents rendered as a string
    (integer→string is portable; float→string is not, and log10-based
    digit extraction misclassifies exact powers of ten under 1-ulp libm
    drift). Observed shares are e6-scaled integer ratios; the per-group
    statistic is the total variation distance ``tvd_e6 = Σ|obs−exp|/2``
    — integer-exact end to end, no chi-square float.

    The grid is DENSE: a digit with zero observations still contributes
    its full |0 − expected_e6| term, via a priority × digit spine
    (distinct priorities ⨯ the 9-row expected dim, counts left-joined,
    n_obs coalesced to 0) — the hour_value_gamma dense-grid pattern.
    An inner join would understate the TVD exactly when the data is
    most anomalous (a digit missing entirely).

    Scale: one scan partial-aggregated onto the (priority, digit) grid
    (≤ 5×9 cells regardless of row count); everything else is window
    math over those 45 cells.
    """
    orders = load_table(spark, "orders", sf)
    digit = (
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .cast("string")
        .substr(1, 1)
        .cast("int")
    )
    counts = (
        orders.select(
            F.col("o_orderpriority").alias("priority"), digit.alias("digit")
        )
        # Benford's law is defined over significant digits 1-9; a
        # non-positive or sub-cent total yields '-'/'0' and must not
        # inflate n_grp on one engine only (the oracle's spine join
        # would drop it from the grid but this side's sum would not)
        .filter(F.col("digit").between(1, 9))
        .groupBy("priority", "digit")
        .agg(F.count("*").alias("n_obs"))
    )
    expected = spark.createDataFrame(
        [(d, e) for d, e in BENFORD_E6.items()], "digit int, expected_e6 long"
    )
    # ONE scan: fold each priority's digit histogram into a 9-entry map
    # (second aggregate runs over the 45-cell partials), then densify by
    # cross-joining the broadcast 9-row expected dim — element_at misses
    # coalesce to 0, which is exactly the dense-spine semantics without
    # a second orders scan or a spine join
    per_prio = counts.groupBy("priority").agg(
        F.map_from_entries(
            F.collect_list(F.struct("digit", "n_obs"))
        ).alias("m"),
        F.sum("n_obs").alias("n_grp"),
    )
    full = (
        per_prio.crossJoin(F.broadcast(expected))
        .withColumn(
            "n_obs",
            F.coalesce(F.element_at("m", F.col("digit")), F.lit(0)),
        )
        .withColumn("obs_e6", F.expr("(1000000 * n_obs) DIV n_grp"))
        .withColumn("dev_e6", F.abs(F.col("obs_e6") - F.col("expected_e6")))
    )
    return full.select(
        "priority",
        "digit",
        "n_obs",
        "obs_e6",
        "expected_e6",
        "dev_e6",
        F.expr(
            "sum(dev_e6) OVER (PARTITION BY priority) DIV 2"
        ).alias("tvd_e6"),
    )


_BENFORD_VALUES = ", ".join(f"({d}, {e})" for d, e in BENFORD_E6.items())

BENFORD_AUDIT_SQL = f"""
WITH expected(digit, expected_e6) AS (
  VALUES {_BENFORD_VALUES}
), counts AS (
  SELECT priority, digit, CAST(count(*) AS BIGINT) AS n_obs
  FROM (
    SELECT o_orderpriority AS priority,
           TRY_CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders
  ) WHERE digit BETWEEN 1 AND 9
  GROUP BY 1, 2
), spine AS (
  -- priorities with at least one VALID significant digit (matching the
  -- Spark side's per-priority map aggregate over the filtered counts)
  SELECT p.priority, e.digit, CAST(e.expected_e6 AS BIGINT) AS expected_e6
  FROM (SELECT DISTINCT priority FROM counts) p
  CROSS JOIN expected e
), full_grid AS (
  SELECT s.priority, s.digit,
         CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
         s.expected_e6,
         CAST(sum(COALESCE(c.n_obs, 0))
              OVER (PARTITION BY s.priority) AS BIGINT) AS n_grp
  FROM spine s
  LEFT JOIN counts c ON c.priority = s.priority AND c.digit = s.digit
), scored AS (
  SELECT priority, digit, n_obs,
         (1000000 * n_obs) // n_grp AS obs_e6,
         expected_e6,
         abs((1000000 * n_obs) // n_grp - expected_e6) AS dev_e6
  FROM full_grid
)
SELECT priority, digit, n_obs, obs_e6, expected_e6, dev_e6,
       CAST(sum(dev_e6) OVER (PARTITION BY priority) AS BIGINT) // 2 AS tvd_e6
FROM scored
"""


# --- revenue concentration (Gini / Lorenz) ------------------------------------

def revenue_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue concentration per event type: the exact Gini coefficient
    of the cents distribution — ``G = (2·Σ i·x_(i) − (n+1)·Σx) /
    (n·Σx)`` over ascending ranks — plus the Lorenz "top 10% share".
    The inequality readout behind "does 1% of traffic carry 90% of
    value" capacity planning and skew triage.

    All integers until one declared-floor division: ranks are
    deterministic (value, event_id) row_numbers, Σ i·x is an exact
    BIGINT sum, the top-decile share re-uses the grid-quantile
    machinery (rank > n − n DIV 10).

    Scale: one shuffle onto event_type with a per-type ordered rank —
    the value_rank_profile posture (per-type sort; at 100 TB the rank
    comes from the cents-grid cumulative, the grid_exact_percentiles
    trick, since Σ i·x_(i) = Σ_grid x·(cum_before + (c+1)/2·...) — the
    grid rewrite is documented, the exact-rank form IS the oracle
    anchor here).
    """
    events = load_table(spark, "events", sf)
    cents = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    per = Window.partitionBy("event_type")
    ranked = (
        cents.withColumn("i", F.row_number().over(w))
        .withColumn("n", F.count("*").over(per))
        .withColumn("s", F.sum("cents").over(per))
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("s").alias("total_cents"),
            F.sum(F.col("i") * F.col("cents")).alias("rank_weighted"),
            F.sum(
                F.when(F.col("i") > F.col("n") - F.expr("n DIV 10"), F.col("cents"))
            ).alias("top_decile_cents"),
        )
        .select(
            "event_type",
            "n",
            "total_cents",
            # floor(1e6·num/den) without the 1e21 overflow of the naive
            # product: exact three-step long division — each step scales
            # the REMAINDER by 1000 (≤ 1000·den < 2^63), so
            # q1·1e6 + q2·1000 + q3 ≡ the true floored e6 quotient
            F.expr(
                "2 * rank_weighted - (n + 1) * total_cents"
            ).alias("num"),
            F.expr("n * total_cents").alias("den"),
            F.expr(
                "(1000000 * top_decile_cents) DIV total_cents"
            ).alias("top10_share_e6"),
        )
        .select(
            "event_type",
            "n",
            "total_cents",
            F.expr(
                "(num DIV den) * 1000000"
                " + ((1000 * (num % den)) DIV den) * 1000"
                " + (1000 * ((1000 * (num % den)) % den)) DIV den"
            ).alias("gini_e6"),
            "top10_share_e6",
        )
    )


def revenue_gini_grid(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB form of ``revenue_gini``: the same exact Gini + top-10%
    share computed from the (event_type, cents) HISTOGRAM instead of a
    per-row rank — no per-type row sort anywhere in the plan.

    The identity: rows sharing a cents value occupy a contiguous rank
    block, and Σ of ranks over a block of size c starting after
    cum_before rows is cum_before·c + c(c+1)/2, so

        Σ i·x_(i)  =  Σ_v v·(cum_before(v)·c(v) + c(v)(c(v)+1) DIV 2)

    (c(c+1) is always even, so the DIV is exact). The top-decile mass
    is the block overlap with the top k = n DIV 10 ranks:
    v·greatest(0, least(c, cum − (n − k))). Intra-block tie order
    (event_id in the anchor) never matters because x is constant within
    a block — which is exactly why the histogram form is lossless.

    Scale: the shuffle is (event_type, cents) with map-side partial
    counts — the grid_exact_percentiles posture. The ordered window
    runs over DISTINCT cents per type (bounded by the value domain,
    ~10^4 cells), not over rows; at 100 TB the per-type sort that makes
    the anchor a verification-only form simply does not exist here.

    Oracle: byte-identical to ``revenue_gini`` (same SQL) — the driver
    hash-checks the rewrite against the rank-based spec.
    """
    events = load_table(spark, "events", sf)
    hist = events.groupBy(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).agg(F.count("*").alias("c"))
    ordered = Window.partitionBy("event_type").orderBy("cents")
    per = Window.partitionBy("event_type")
    g = (
        hist.withColumn("cum", F.sum("c").over(ordered))
        .withColumn("cum_before", F.col("cum") - F.col("c"))
        .withColumn("n", F.sum("c").over(per))
        .withColumn("s", F.sum(F.col("cents") * F.col("c")).over(per))
        .withColumn("k", F.expr("n DIV 10"))
    )
    agg = g.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("s").alias("total_cents"),
        F.sum(
            F.col("cents")
            * (
                F.col("cum_before") * F.col("c")
                + F.expr("(c * (c + 1)) DIV 2")
            )
        ).alias("rank_weighted"),
        # NULL (not 0) when k = 0, matching the anchor's empty CASE sum
        F.sum(
            F.when(
                F.col("k") > 0,
                F.col("cents")
                * F.greatest(
                    F.lit(0),
                    F.least(
                        F.col("c"),
                        F.col("cum") - (F.col("n") - F.col("k")),
                    ),
                ),
            )
        ).alias("top_decile_cents"),
    )
    return (
        agg.select(
            "event_type",
            "n",
            "total_cents",
            F.expr("2 * rank_weighted - (n + 1) * total_cents").alias("num"),
            F.expr("n * total_cents").alias("den"),
            F.expr(
                "(1000000 * top_decile_cents) DIV total_cents"
            ).alias("top10_share_e6"),
        )
        .select(
            "event_type",
            "n",
            "total_cents",
            # same three-step exact long division as the anchor
            F.expr(
                "(num DIV den) * 1000000"
                " + ((1000 * (num % den)) DIV den) * 1000"
                " + (1000 * ((1000 * (num % den)) % den)) DIV den"
            ).alias("gini_e6"),
            "top10_share_e6",
        )
    )


REVENUE_GINI_SQL = """
WITH cents AS (
  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT) AS s
  FROM cents
), agg AS (
  SELECT event_type, max(n) AS n, max(s) AS total_cents,
         CAST(sum(i * cents) AS BIGINT) AS rank_weighted,
         CAST(sum(CASE WHEN i > n - n // 10 THEN cents END) AS BIGINT)
           AS top_decile_cents
  FROM ranked GROUP BY event_type
)
SELECT event_type, n, total_cents,
       CAST((1000000 * CAST(2 * rank_weighted - (n + 1) * total_cents
                            AS HUGEINT))
            // (CAST(n AS HUGEINT) * total_cents) AS BIGINT) AS gini_e6,
       (1000000 * top_decile_cents) // total_cents AS top10_share_e6
FROM agg
"""


# --- RFM customer segmentation ------------------------------------------------

def rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Classic RFM segmentation over the event stream: per user,
    recency (days since last event, against the global max), frequency
    (event count) and monetary (exact cents), each scored 1-5 against
    the population's quintile cuts — the standard CRM/lifecycle
    segmentation.

    Scores come from comparisons against interpolated quintile cuts
    computed ONCE on the user dim and broadcast back (the winsorized-
    stats posture): ``score = 1 + Σ (v > q_k)`` (recency inverted —
    recent is better). Both engines interpolate quantiles with the
    same (n−1)·p rule, and a value exactly ON a cut compares False on
    both, so the scores are deterministic. The segment label is the
    concatenated digit triple.

    Scale: one corpus shuffle onto user_id (partial-aggregated); the
    quintile agg runs over the USER dim — at 100 TB (1e9 users) the
    cuts move to approx_percentile, same comparisons.
    """
    events = load_table(spark, "events", sf)
    per_user = events.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    anchor = events.agg(F.max("ts").alias("t_max"))
    base = per_user.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days",
        F.datediff(F.col("t_max"), F.col("last_ts")).cast("long"),
    )
    cuts = base.agg(
        *[
            F.expr(f"percentile(recency_days, {p})").alias(f"r{int(p*100)}")
            for p in (0.2, 0.4, 0.6, 0.8)
        ],
        *[
            F.expr(f"percentile(frequency, {p})").alias(f"f{int(p*100)}")
            for p in (0.2, 0.4, 0.6, 0.8)
        ],
        *[
            F.expr(f"percentile(monetary_cents, {p})").alias(f"m{int(p*100)}")
            for p in (0.2, 0.4, 0.6, 0.8)
        ],
    )

    def score(col: str, prefix: str, invert: bool) -> F.Column:
        s = F.lit(1)
        for p in (20, 40, 60, 80):
            cmp = (
                F.col(col) < F.col(f"{prefix}{p}")
                if invert
                else F.col(col) > F.col(f"{prefix}{p}")
            )
            s = s + cmp.cast("int")
        return s

    scored = base.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        score("recency_days", "r", True).alias("r_score"),
        score("frequency", "f", False).alias("f_score"),
        score("monetary_cents", "m", False).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


RFM_SEGMENTS_SQL = """
WITH per_user AS (
  SELECT user_id, max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events GROUP BY user_id
), anchor AS (SELECT max(ts) AS t_max FROM events),
base AS (
  SELECT p.*, CAST(date_diff('day',
         CAST(date_trunc('day', last_ts) AS DATE),
         CAST(date_trunc('day', t_max) AS DATE)) AS BIGINT) AS recency_days
  FROM per_user p CROSS JOIN anchor
), cuts AS (
  SELECT quantile_cont(recency_days, 0.2) AS r20,
         quantile_cont(recency_days, 0.4) AS r40,
         quantile_cont(recency_days, 0.6) AS r60,
         quantile_cont(recency_days, 0.8) AS r80,
         quantile_cont(frequency, 0.2) AS f20,
         quantile_cont(frequency, 0.4) AS f40,
         quantile_cont(frequency, 0.6) AS f60,
         quantile_cont(frequency, 0.8) AS f80,
         quantile_cont(monetary_cents, 0.2) AS m20,
         quantile_cont(monetary_cents, 0.4) AS m40,
         quantile_cont(monetary_cents, 0.6) AS m60,
         quantile_cont(monetary_cents, 0.8) AS m80
  FROM base
), scored AS (
  SELECT user_id, recency_days, frequency, monetary_cents,
         1 + CAST(recency_days < r20 AS INT) + CAST(recency_days < r40 AS INT)
           + CAST(recency_days < r60 AS INT) + CAST(recency_days < r80 AS INT)
           AS r_score,
         1 + CAST(frequency > f20 AS INT) + CAST(frequency > f40 AS INT)
           + CAST(frequency > f60 AS INT) + CAST(frequency > f80 AS INT)
           AS f_score,
         1 + CAST(monetary_cents > m20 AS INT) + CAST(monetary_cents > m40 AS INT)
           + CAST(monetary_cents > m60 AS INT) + CAST(monetary_cents > m80 AS INT)
           AS m_score
  FROM base CROSS JOIN cuts
)
SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
          || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


# --- ordinal association: Goodman-Kruskal gamma -------------------------------

GAMMA_BIN_W = 10.0
GAMMA_BIN_MAX = 49


def hour_value_gamma(spark: SparkSession, sf: str) -> DataFrame:
    """Does time of day order spend? Goodman-Kruskal gamma between
    hour-of-day and the value bin, per event type — the ordinal
    association statistic whose ``(C − D)/(C + D)`` form needs no
    square root (unlike Kendall's tau-b), so it stays integer-exact.

    Concordant/discordant pair counts come from 2D PREFIX SUMS over
    the dense (hour × bin) grid: ``T_ij = N − R_i − C_j + P_ij`` counts
    the strictly-greater quadrant and ``U_ij = C_{j−1} − P_{i,j−1}``
    the discordant one — so the classically O(n²) pair statistic is
    two window passes over a ≤ 24×50 grid per type, independent of
    corpus rows. Tied pairs (same hour or same bin) are excluded by
    construction, exactly gamma's definition.

    Scale: one corpus shuffle onto the (type, hour, bin) grid; the
    dense spine is 1 200 cells/type. C and D are BIGINT-exact below
    ~3e9 rows/type (C ≤ n²/2); DECIMAL(38,0) beyond.
    """
    events = load_table(spark, "events", sf)
    binned = events.select(
        "event_type",
        F.hour("ts").cast("long").alias("h"),
        F.least(
            F.lit(GAMMA_BIN_MAX), F.floor(F.col("value") / GAMMA_BIN_W)
        ).cast("long").alias("b"),
    )
    cells = binned.groupBy("event_type", "h", "b").agg(
        F.count("*").alias("n")
    )
    types = cells.select("event_type").distinct()
    hours = spark.range(24).select(F.col("id").alias("h"))
    bins = spark.range(GAMMA_BIN_MAX + 1).select(F.col("id").alias("b"))
    dense = (
        types.crossJoin(hours)
        .crossJoin(bins)
        .join(cells, ["event_type", "h", "b"], "left")
        .select(
            "event_type", "h", "b", F.coalesce("n", F.lit(0)).alias("n")
        )
    )
    in_row = (
        Window.partitionBy("event_type", "h")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dense = dense.withColumn("c1", F.sum("n").over(in_row))
    down_col = (
        Window.partitionBy("event_type", "b")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_type = Window.partitionBy("event_type")
    g = (
        dense.withColumn("p", F.sum("c1").over(down_col))  # P(i,j)
        .withColumn("n_tot", F.sum("n").over(per_type))
        # R_i = all-bin prefix over hours <= i; C_j = all-hour prefix over
        # bins <= j — both are P at the grid edge, read via max-per-slice
        .withColumn(
            "r_i",
            F.max(F.when(F.col("b") == GAMMA_BIN_MAX, F.col("p"))).over(
                Window.partitionBy("event_type", "h")
            ),
        )
    )
    # r_i above is P(i, J) only if computed per h AFTER down_col ran over
    # every row of that h — it is: p at (h, J) IS the row-complete prefix
    colw = Window.partitionBy("event_type", "b")
    g = g.withColumn(
        "c_j", F.max(F.when(F.col("h") == 23, F.col("p"))).over(colw)
    )
    lag_b = Window.partitionBy("event_type", "h").orderBy("b")
    g = (
        g.withColumn("p_left", F.lag("p").over(lag_b))  # P(i, j-1)
        .withColumn(
            "c_left", F.lag("c_j").over(lag_b)  # C_{j-1}
        )
        .withColumn(
            "conc",
            F.col("n")
            * (F.col("n_tot") - F.col("r_i") - F.col("c_j") + F.col("p")),
        )
        .withColumn(
            "disc",
            F.col("n")
            * (
                F.coalesce(F.col("c_left"), F.lit(0))
                - F.coalesce(F.col("p_left"), F.lit(0))
            ),
        )
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.max("n_tot").alias("n"),
            F.sum("conc").alias("concordant"),
            F.sum("disc").alias("discordant"),
        )
        .select(
            "event_type",
            "n",
            "concordant",
            "discordant",
            F.expr(
                "CASE WHEN concordant + discordant = 0 THEN 0 ELSE "
                "CAST(sign(concordant - discordant) AS BIGINT)"
                " * ((1000000 * abs(concordant - discordant))"
                "    DIV (concordant + discordant)) END"
            ).alias("gamma_e6"),
        )
    )


HOUR_VALUE_GAMMA_SQL = f"""
WITH binned AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS h,
         CAST(least({GAMMA_BIN_MAX}, floor(value / {GAMMA_BIN_W})) AS BIGINT)
           AS b
  FROM events
), cells AS (
  SELECT event_type, h, b, count(*) AS n FROM binned GROUP BY 1, 2, 3
), dense AS (
  SELECT t.event_type, hh.h, bb.b, CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM (SELECT DISTINCT event_type FROM cells) t
  CROSS JOIN (SELECT unnest(range(24)) AS h) hh
  CROSS JOIN (SELECT unnest(range({GAMMA_BIN_MAX} + 1)) AS b) bb
  LEFT JOIN cells c ON c.event_type = t.event_type AND c.h = hh.h
                   AND c.b = bb.b
), pref AS (
  SELECT *,
         CAST(sum(n) OVER (PARTITION BY event_type, h ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1
  FROM dense
), pref2 AS (
  SELECT *,
         CAST(sum(c1) OVER (PARTITION BY event_type, b ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_tot
  FROM pref
), edges AS (
  SELECT *,
         CAST(max(CASE WHEN b = {GAMMA_BIN_MAX} THEN p END)
           OVER (PARTITION BY event_type, h) AS BIGINT) AS r_i,
         CAST(max(CASE WHEN h = 23 THEN p END)
           OVER (PARTITION BY event_type, b) AS BIGINT) AS c_j
  FROM pref2
), lagged AS (
  SELECT *,
         lag(p) OVER (PARTITION BY event_type, h ORDER BY b) AS p_left,
         lag(c_j) OVER (PARTITION BY event_type, h ORDER BY b) AS c_left
  FROM edges
), scored AS (
  SELECT event_type, n_tot,
         n * (n_tot - r_i - c_j + p) AS conc,
         n * (coalesce(c_left, 0) - coalesce(p_left, 0)) AS disc
  FROM lagged
)
SELECT event_type, max(n_tot) AS n,
       CAST(sum(conc) AS BIGINT) AS concordant,
       CAST(sum(disc) AS BIGINT) AS discordant,
       CASE WHEN CAST(sum(conc) AS BIGINT) + CAST(sum(disc) AS BIGINT) = 0
            THEN 0
            ELSE CAST(sign(CAST(sum(conc) AS BIGINT)
                           - CAST(sum(disc) AS BIGINT)) AS BIGINT)
                 * ((1000000 * abs(CAST(sum(conc) AS BIGINT)
                                   - CAST(sum(disc) AS BIGINT)))
                    // (CAST(sum(conc) AS BIGINT)
                        + CAST(sum(disc) AS BIGINT)))
       END AS gamma_e6
FROM scored GROUP BY event_type
"""


# --- categorical independence audit (type × hour) -----------------------------

def independence_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Which hours over/under-index per event type: the exact
    independence deviation per contingency cell, cross-multiplied so no
    division precedes the comparison — ``dev = N·n_ij − n_i·n_j`` is
    positive exactly when the cell beats its independence expectation.
    The localized complement to ``hour_value_gamma`` (one global
    ordinal statistic) and ``seasonal_profile`` (descriptive averages,
    no expectation to deviate from).

    ``ratio_e6 = (1e6·N·n_ij) DIV (n_i·n_j)`` is the e6-scaled
    observed/expected lift (1e6 = independent), integer-exact; the
    over-represented flag needs no scaling at all.

    Scale: one corpus shuffle onto the ≤ |types|×24 grid; margins are
    windows partitioned by each key over grid cells; N broadcasts as a
    1-row keyless aggregate. ``N·n_ij`` is BIGINT-exact below ~3e9
    rows; DECIMAL(38,0) beyond.
    """
    events = load_table(spark, "events", sf)
    cells = (
        events.select("event_type", F.hour("ts").cast("long").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("n_ij"))
    )
    by_type = Window.partitionBy("event_type")
    by_hour = Window.partitionBy("h")
    grand = cells.agg(F.sum("n_ij").alias("n_all"))
    return (
        cells.withColumn("n_i", F.sum("n_ij").over(by_type))
        .withColumn("n_j", F.sum("n_ij").over(by_hour))
        .crossJoin(F.broadcast(grand))
        .select(
            "event_type",
            "h",
            "n_ij",
            "n_i",
            "n_j",
            (F.col("n_all") * F.col("n_ij") - F.col("n_i") * F.col("n_j")).alias(
                "dev"
            ),
            F.expr(
                "(1000000 * n_all * n_ij) DIV (n_i * n_j)"
            ).alias("ratio_e6"),
        )
    )


INDEPENDENCE_AUDIT_SQL = """
WITH cells AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS n_ij
  FROM events GROUP BY 1, 2
), margins AS (
  SELECT *,
         CAST(sum(n_ij) OVER (PARTITION BY event_type) AS BIGINT) AS n_i,
         CAST(sum(n_ij) OVER (PARTITION BY h) AS BIGINT) AS n_j
  FROM cells
), grand AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n_all FROM cells)
SELECT event_type, h, n_ij, n_i, n_j,
       n_all * n_ij - n_i * n_j AS dev,
       (1000000 * n_all * n_ij) // (n_i * n_j) AS ratio_e6
FROM margins CROSS JOIN grand
"""


STATS_QUERIES = {
    "benford_audit": (benford_audit, BENFORD_AUDIT_SQL),
    "revenue_gini": (revenue_gini, REVENUE_GINI_SQL),
    "revenue_gini_grid": (revenue_gini_grid, REVENUE_GINI_SQL),
    "rfm_segments": (rfm_segments, RFM_SEGMENTS_SQL),
    "hour_value_gamma": (hour_value_gamma, HOUR_VALUE_GAMMA_SQL),
    "independence_audit": (independence_audit, INDEPENDENCE_AUDIT_SQL),
    "sketch_rollup": (sketch_rollup, SKETCH_ROLLUP_SQL),
    "embedding_covariance": (embedding_covariance, EMBEDDING_COVARIANCE_SQL),
    "key_skew_report": (key_skew_report, KEY_SKEW_REPORT_SQL),
    "value_drift_psi": (value_drift_psi, VALUE_DRIFT_PSI_SQL),
    "source_overlap_matrix": (source_overlap_matrix, SOURCE_OVERLAP_MATRIX_SQL),
    "value_histogram": (value_histogram, VALUE_HISTOGRAM_SQL),
    "winsorized_stats": (winsorized_stats, WINSORIZED_STATS_SQL),
    "quantile_normalize": (quantile_normalize, QUANTILE_NORMALIZE_SQL),
}
