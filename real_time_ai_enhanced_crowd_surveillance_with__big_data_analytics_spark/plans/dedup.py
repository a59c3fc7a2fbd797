"""Deduplication plans over the documents table (north-star operators:
exact, n-gram Jaccard, MinHash+LSH, SimHash — BASELINE.json).

Hash design: every hash here is explicit portable arithmetic
(polynomial rolling hash, affine permutations mod p) rather than an
engine-native hash(), so the DuckDB oracle computes bit-identical
values — SURVEY.md §5.1's differential-testing requirement.

Scale posture:
- exact dedup: one shuffle on the text key (hash-groupBy).
- n-gram Jaccard: quadratic verify — kept as the correctness anchor.
- MinHash LSH: the 100 TB path — candidates come from band-key
  equality joins (shuffle on small band keys), never from the corpus
  square; verification touches only candidates.
- SimHash: constant-size signature per doc; pairing by signature
  distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

HASH_MOD = 1_000_000_007
HASH_BASE = 31
JACCARD_THRESHOLD = 0.2
N_PERMS = 16
MH_BAND_SIZE = 4  # 4 bands x 4 rows
SIMHASH_BITS = 32
SIMHASH_TOP = 20

# driver-collect guard (VERDICT r9 #3 / ADVICE r9): the prefix ranking
# broadcasts a sid->df map as a plain dict. It is Heaps-sublinear in
# the corpus, but past this row count the collect would endanger the
# driver, so _ranked_postings automatically reverts to the
# fully-distributed df-join + window form (kept live and pinned
# result-identical by test_vocab_gate). A collect that trips
# spark.driver.maxResultSize degrades the same way instead of
# crashing. (The token VOCABULARY needs no guard at all anymore: the
# shingle kernels hash tokens per task with a memo dict — zero driver
# state, see _hash_tokens.)
DF_MAP_MAX = 4_000_000
# sentinel: "the df map was measured too big to broadcast"
VOCAB_TOO_BIG = object()
# per-task token-hash memo bound: a memo only amortizes repeated
# tokens; clearing it past this size bounds worker memory on a
# pathological all-distinct-token partition without affecting results
VOCAB_MEMO_MAX = 4_000_000


# --- shared shingle machinery ------------------------------------------------

def symmetrize_pairs(pairs: DataFrame, a: str = "ia", b: str = "ib") -> DataFrame:
    """Both orientations of an (a, b) pair frame as ONE pass over the
    input: explode([(a,b),(b,a)]) instead of ``pairs.union(swap)``.
    The union form executes the pair-producing subtree TWICE when it
    is not already materialized (Spark has no common-subexpression
    elimination across union branches; only a trailing Exchange gets
    reused) — measured 2x on the LSH verify pipeline at sf0.1, and at
    100 TB it is two full candidate-join passes instead of one. Output
    multiset is identical to the union form."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(a), F.col(b).alias(b)),
                F.struct(F.col(b).alias(a), F.col(a).alias(b)),
            )
        ).alias("_e")
    ).select(f"_e.{a}", f"_e.{b}")


def _tokens(text):
    return F.split(F.trim(text), " ")


def _str_hash(col):
    """Polynomial hash of a string expr: fold (acc*31 + ascii) % p."""
    return F.aggregate(
        F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * HASH_BASE + c) % HASH_MOD,
    )


# DuckDB twins (1-based list indexing)
_DUCK_TOKENS = "string_split(trim(text), ' ')"
_DUCK_STR_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(acc, c) -> (acc * {HASH_BASE} + c) % {HASH_MOD})"
)


# --- exact dedup (hash-groupBy; SURVEY §2.3 J5 generalized) ------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate grouping: canonical id = min doc_id per identical
    text. The shuffle key is a SHA-256 fingerprint of the text, not the
    text itself — the output carries no text, so each shuffle row is
    (doc_id, 64-hex-char digest) instead of a full document; at 100 TB
    that's the difference between shuffling the corpus and shuffling
    ~70 bytes/doc. Digest equality stands in for text equality (a
    256-bit cryptographic hash has no random collisions at any feasible
    corpus size, and unlike the portable polynomial hashes used for
    shingles it is not adversarially forgeable), so no within-group
    re-verify pass is needed. DuckDB's sha256() matches Spark's sha2
    bit-for-bit, keeping the grouping oracle-identical."""
    docs = load_table(spark, "documents", sf)
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return docs.select("doc_id", F.sha2(F.col("text"), 256).alias("fp")).select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
    )


DEDUP_EXACT_SQL = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id,
       count(*) OVER (PARTITION BY sha256(text)) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS is_canonical
FROM documents
"""


# --- n-gram Jaccard near-dup (exact quadratic verify) ------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """All document pairs with token-trigram Jaccard ≥ threshold — the
    exact near-dup answer via an inverted-index join on hashed shingle
    ids (semantics ≡ string shingles modulo 1e9+7 hash collisions,
    identical on both engines either way).

    Exploding shingles and equi-joining on the shingle makes candidate
    generation linear in the postings-pair count (Σ df² over shingles,
    bounded by max-df), not the corpus square: |∩| arrives as a count
    from the groupBy, |∪| = n_a + n_b − |∩|. A naive pair cross-join
    with per-pair array_intersect was ~45× slower at sf0.1, and long
    string join keys ~2× slower than the sid join. Hot-shingle skew is
    bounded by df (max 25 here); at 100 TB drop ultra-high-df shingles
    (stopword shingles carry no signal).
    """
    docs = load_table(spark, "documents", sf)
    # doc-level sets are localCheckpointed (see _shingle_sets): computed
    # once for the references below; postings are one explode away and
    # the per-doc counts are a PROJECTION of the checkpoint instead of
    # a groupBy shuffle over the exploded postings
    doc_sets = _shingle_sets(docs)
    tri = doc_sets.select("doc_id", F.explode("sids").alias("sid"))
    counts = doc_sets.select("doc_id", "n_tri")
    # probe-side fan-out: the MB-sized postings auto-broadcast, so the
    # probe would inherit the checkpoint's 1-3 scan partitions
    sc = docs.sparkSession.sparkContext
    a = tri.repartition(sc.defaultParallelism, "sid").select(
        F.col("doc_id").alias("ia"), "sid"
    )
    b = tri.select(F.col("doc_id").alias("ib"), F.col("sid").alias("sidb"))
    shared = (
        a.join(b, (F.col("sid") == F.col("sidb")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("shared"))
    )
    na = counts.select(F.col("doc_id").alias("ia"), F.col("n_tri").alias("na"))
    nb = counts.select(F.col("doc_id").alias("ib"), F.col("n_tri").alias("nb"))
    return (
        shared.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia",
            "ib",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {{postings}},
counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
  FROM postings a JOIN postings b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.ia, s.ib,
       round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
         AS jaccard
FROM shared s
JOIN counts na ON na.doc_id = s.ia
JOIN counts nb ON nb.doc_id = s.ib
WHERE round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
      >= {JACCARD_THRESHOLD}
"""


# --- prefix-filtered EXACT Jaccard join (PPJoin-family) ----------------------

def _fan_out_pairs(pairs: DataFrame, key: str = "ia") -> DataFrame:
    """Restore parallelism on a candidate-pair stream before the
    CPU-heavy array-intersect verify (r10, guide §2.5): the candidate
    ``distinct`` emits two-long rows, so AQE's byte-based coalescing
    collapses its output to ~1 partition — and the verify joins +
    per-row intersects then run in that ONE task (measured: the whole
    verify single-task at sf0.1). AQE cannot see per-row CPU; an
    explicit hash repartition on the probe-side join key spreads the
    intersects at the cost of one narrow exchange."""
    sc = pairs.sparkSession.sparkContext
    return pairs.repartition(sc.defaultParallelism, key)


def _df_map(doc_sets: DataFrame):
    """sid → corpus document frequency, collected and broadcast. ONE
    map-side-combined aggregate over the postings explode of the
    checkpointed sets; the result is trigram-VOCABULARY-sized (Heaps-
    sublinear — 27k entries at sf0.1), the same memory class as the
    token-vocab dict the scan pass already broadcasts.

    Size-gated (DF_MAP_MAX / spark.driver.maxResultSize): past the
    gate this returns ``VOCAB_TOO_BIG`` and ``_ranked_postings``
    reverts to the distributed df-join + per-doc window form."""
    q = (
        doc_sets.select(F.explode("sids").alias("sid"))
        .groupBy("sid")
        .agg(F.count("*").alias("df"))
    )
    try:
        rows = q.collect()
    except Exception as exc:  # noqa: BLE001 — py4j wraps SparkException
        if "maxResultSize" not in str(exc):
            raise
        return VOCAB_TOO_BIG
    if len(rows) > DF_MAP_MAX:
        return VOCAB_TOO_BIG
    return doc_sets.sparkSession.sparkContext.broadcast(
        {r.sid: r.df for r in rows}
    )


def _ranked_postings_distributed(
    doc_sets: DataFrame, jaccard_prefix_only: bool
) -> DataFrame:
    """Over-gate twin of ``_ranked_postings``: df aggregate + join +
    per-doc rank window, all distributed (the pre-r9 plan). Identical
    output: rk is row_number over (df asc, sid asc) within the doc —
    (df, sid) pairs are unique per doc, so the rank is deterministic
    in both forms."""
    postings = doc_sets.select(
        "doc_id", "n_tri", F.explode("sids").alias("sid")
    )
    df_ = postings.groupBy("sid").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("sid").asc()
    )
    ranked = postings.join(df_, "sid").withColumn(
        "rk", F.row_number().over(w)
    )
    if jaccard_prefix_only:
        prefix_len = (
            F.col("n_tri") - F.floor((F.col("n_tri") + 4) / F.lit(5.0)) + 1
        )
        ranked = ranked.filter(F.col("rk") <= prefix_len)
    return ranked.select("doc_id", "sid", "rk", "n_tri")


def _ranked_postings(doc_sets: DataFrame, jaccard_prefix_only: bool) -> DataFrame:
    """(doc_id, sid, rk, n_tri) rarest-first ranked postings — rk is
    row_number over (df asc, sid asc) within the doc, computed MAP-ONLY
    from the checkpointed doc-set arrays and the broadcast df map
    (np.lexsort; (df, sid) pairs are unique per doc, so the rank is
    deterministic). Replaces a df-join + per-doc rank window + counts
    join — three exchanges of the postings stream — with zero shuffles.
    ``jaccard_prefix_only`` emits just the ``s − ⌈s/5⌉ + 1`` prefix
    rows (both sides of the Jaccard prefix join are prefixes), so the
    self-join input is born ~60% smaller."""
    import numpy as np
    import pandas as pd

    bc = _df_map(doc_sets)
    if bc is VOCAB_TOO_BIG:  # collect gate tripped: distributed form
        return _ranked_postings_distributed(doc_sets, jaccard_prefix_only)

    def rank_fn(batches):
        dfm = bc.value
        for pdf in batches:
            dids, sids_o, rks, ns = [], [], [], []
            for did, sids in zip(pdf["doc_id"], pdf["sids"]):
                s = np.asarray(sids, dtype="int64")
                n = len(s)
                d = np.fromiter(
                    (dfm[x] for x in s.tolist()), dtype="int64", count=n
                )
                order = np.lexsort((s, d))
                m = n - (n + 4) // 5 + 1 if jaccard_prefix_only else n
                sel = order[:m]
                dids.append(np.full(m, did, dtype="int64"))
                sids_o.append(s[sel])
                rks.append(np.arange(1, m + 1, dtype="int64"))
                ns.append(np.full(m, n, dtype="int64"))
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(dids) if dids else np.empty(0, "int64"),
                    "sid": np.concatenate(sids_o) if dids else np.empty(0, "int64"),
                    "rk": np.concatenate(rks) if dids else np.empty(0, "int64"),
                    "n_tri": np.concatenate(ns) if dids else np.empty(0, "int64"),
                }
            )

    return doc_sets.select("doc_id", "sids").mapInPandas(
        rank_fn, schema="doc_id long, sid long, rk long, n_tri long"
    )


def _prefix_candidates(doc_sets: DataFrame) -> DataFrame:
    """(ia, ib) candidate pairs sharing a token inside both docs'
    rarest-first prefixes of length ``s − ⌈s/5⌉ + 1`` (t = 1/5) — the
    lossless AllPairs candidate set for Jaccard ≥ t, tightened by the
    two classic lossless side-filters evaluated INSIDE the join (so
    pruned pairs never reach the distinct/verify shuffle):

    - length filter: J ≥ t forces ``t·sa ≤ sb ≤ sa/t`` (5·nb ≥ na and
      5·na ≥ nb for t = 1/5);
    - positional filter (PPJoin): for a common prefix token at ranks
      (i, j), ``|∩| ≤ 1 + min(sa−i, sb−j)``; the pair needs
      ``|∩| ≥ α = ⌈t/(1+t)·(sa+sb)⌉ = ⌈(sa+sb)/6⌉``. The bound is
      tight for the FIRST common token; keeping a pair when ANY shared
      token passes is therefore a superset of PPJoin's candidates —
      lossless, strictly tighter than plain prefix overlap.

    Prefix rows come from the map-only ranked pass (see
    _ranked_postings); checkpointed because both join sides read it.
    """
    assert abs(JACCARD_THRESHOLD - 0.2) < 1e-12, "prefix math assumes t=1/5"
    prefix = _ranked_postings(doc_sets, jaccard_prefix_only=True).localCheckpoint()
    # the build side broadcasts, so the PROBE side inherits the
    # checkpoint's scan-derived 1-3 partitions and the whole candidate
    # join + pair filters would run near-serial (verify-skill trap);
    # fan the probe side out explicitly (interleaved A/B: consistently
    # faster in every adjacent pair at sf0.1)
    sc = doc_sets.sparkSession.sparkContext
    pa = prefix.repartition(sc.defaultParallelism, "sid").select(
        F.col("doc_id").alias("ia"),
        "sid",
        F.col("rk").alias("ra"),
        F.col("n_tri").alias("na"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("ib"),
        F.col("sid").alias("sidb"),
        F.col("rk").alias("rb"),
        F.col("n_tri").alias("nb"),
    )
    alpha = F.floor((F.col("na") + F.col("nb") + 5) / F.lit(6.0))
    return (
        pa.join(
            pb,
            (F.col("sid") == F.col("sidb"))
            & (F.col("ia") < F.col("ib"))
            & (5 * F.col("nb") >= F.col("na"))
            & (5 * F.col("na") >= F.col("nb"))
            & (
                1
                + F.least(
                    F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
                )
                >= alpha
            ),
        )
        .select("ia", "ib")
        .distinct()
    )


def dedup_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT ``dedup_ngram_jaccard`` answer via prefix filtering — the
    AllPairs/PPJoin candidate bound (Bayardo et al. WWW'07; Xiao et
    al. WWW'08), which upgrades the documented quadratic exact anchor
    into a scale-correct exact path: a pair with Jaccard ≥ t MUST
    share a shingle inside each document's PREFIX — its
    ``s − ⌈t·s⌉ + 1`` globally-rarest shingles (df ascending, sid
    tiebreak) — so the candidate self-join runs over prefixes only,
    never full postings. Rarest-first ordering makes prefix df's the
    corpus's smallest, collapsing Σdf² where it matters.

    Lossless by the prefix-filter lemma (for the pair's true overlap
    bound α = ⌈t·max(sa,sb)⌉ the α-prefixes intersect, and per-doc
    prefixes with α_d = ⌈t·s_d⌉ ≤ α are supersets of those), so the
    output is bit-identical to the exact anchor — the oracle IS the
    anchor's SQL, and the parity test asserts equality against
    ``dedup_ngram_jaccard`` itself plus a strict candidate-count
    reduction. t = 1/5 exactly, so the prefix length is computed in
    integer arithmetic (``s − (s+4) div 5 + 1``) on both engines.

    Scale shape: df is one vocabulary-sized aggregate; the per-doc
    rank window partitions by doc_id (bounded frames); verification
    joins each candidate pair to the two docs' shingle-set ARRAYS and
    computes ``size(array_intersect(..))`` in whole-stage codegen —
    postings are distinct per doc, so the intersect size IS the shared
    count. This replaces the earlier explode-and-recount verify
    (candidates × postings double join + re-groupBy) that re-shuffled
    Σ|candidate docs' postings| rows: the array verify moves the same
    bytes ONCE per pair side and needs no post-join aggregate —
    measured 2× faster warm at sf0.1 (8.1 s → 4.1 s, identical 256
    rows). At 100 TB the doc-set table is corpus-sized, so both verify
    joins shuffle on doc id; rows are one array per doc rather than
    exploded postings, strictly fewer shuffle rows at equal payload.

    Measured honestly: at sf0.1 the filtered prefix join examines 44%
    of the full self-join's candidate pairs (499k vs 1.13M; plain
    prefix alone 788k) — the synthetic corpus's near-uniform df gives
    Zipf-skewed real corpora's win only partially. On the 8×
    replica-clique probe the ratio is 15× vs the anchor's 22× (the
    explode-verify form measured 32× on the same probe): when
    the corpus is one giant duplicate family the output itself is
    clique-quadratic, every candidate is a true pair, and
    filter-then-verify re-joins what the anchor's single self-join
    aggregates in place — for such corpora the df-capped/MinHash paths
    remain the shipping recommendation; this path's value is EXACTNESS
    with pruning on normal dup-density.
    """
    docs = load_table(spark, "documents", sf)
    # ONE materialization: doc-level sets from the map-only scan pass;
    # postings (prefix ranking) and counts are projections of it — the
    # earlier postings-checkpoint + collect_list groupBy (re-executed
    # per verify side) is gone
    doc_sets = _shingle_sets(docs)
    cands = _fan_out_pairs(_prefix_candidates(doc_sets))
    shared = (
        cands.join(
            doc_sets.select(
                F.col("doc_id").alias("ia"),
                F.col("sids").alias("sa"),
                F.col("n_tri").alias("na"),
            ),
            "ia",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("ib"),
                F.col("sids").alias("sb"),
                F.col("n_tri").alias("nb"),
            ),
            "ib",
        )
        .select(
            "ia",
            "ib",
            F.size(F.array_intersect("sa", "sb")).alias("shared"),
            "na",
            "nb",
        )
    )
    return shared.select(
        "ia",
        "ib",
        F.round(
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# --- df-capped n-gram Jaccard (bounded candidate generation) -----------------

DF_CAP = 20


def _df_capped_shared(postings: DataFrame) -> DataFrame:
    """(ia, ib, shared): EXACT shared-shingle counts for every document
    pair that shares at least one rare (df ≤ DF_CAP) shingle — the
    bounded candidate generator behind both capped near-dup scorers
    (jaccard and containment). Candidates come from the rare-postings
    self-join (Σ df² with df ≤ cap); the hot-shingle contribution to
    ``shared`` is then restored from the small hot postings subset, so
    scores are exact even though candidate recall is df-capped."""
    hot = (
        postings.groupBy("sid")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("sid")
    )
    rare = postings.join(F.broadcast(hot), "sid", "left_anti")
    # the MB-sized rare side auto-broadcasts, so the probe side would
    # inherit the map-born checkpoint's scan-derived 1-3 partitions and
    # run the Σdf² pairing near-serial — fan the probe out explicitly
    # (verify-skill broadcast-probe trap; interleaved A/B confirmed)
    sc = postings.sparkSession.sparkContext
    a = rare.repartition(sc.defaultParallelism, "sid").select(
        F.col("doc_id").alias("ia"), "sid"
    )
    b = rare.select(F.col("doc_id").alias("ib"), F.col("sid").alias("sidb"))
    # candidate pairs AND their rare-shingle overlap in ONE groupBy —
    # a .distinct() here would shuffle the same pair fan-out and then
    # throw the counts away, forcing a re-join against FULL postings
    shared_rare = (
        a.join(b, (F.col("sid") == F.col("sidb")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("sh_rare"))
    )
    # shared = shared_rare + shared_hot; the hot-side correction only
    # needs the hot postings (a small subset by construction), so the
    # verify joins never touch the full postings again
    hotp = postings.join(F.broadcast(hot), "sid", "left_semi")
    ha = hotp.select(F.col("doc_id").alias("ia"), "sid")
    hb = hotp.select(F.col("doc_id").alias("ibb"), F.col("sid").alias("sidb"))
    shared_hot = (
        shared_rare.select("ia", "ib")
        .join(ha, "ia")
        .join(hb, (F.col("ib") == F.col("ibb")) & (F.col("sid") == F.col("sidb")))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("sh_hot"))
    )
    return (
        shared_rare.join(shared_hot, ["ia", "ib"], "left")
        .select(
            "ia",
            "ib",
            (F.col("sh_rare") + F.coalesce(F.col("sh_hot"), F.lit(0))).alias(
                "shared"
            ),
        )
    )


def dedup_ngram_jaccard_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs like :func:`dedup_ngram_jaccard`, but candidate
    generation drops shingles whose document frequency exceeds
    ``DF_CAP`` — the standard stopword-shingle cut that bounds the
    postings-pair cost Σ df² at df ≤ cap (the exact variant's documented
    100 TB fix). Jaccard is still computed on the FULL shingle sets, so
    scores are exact; only recall is approximate (a pair sharing solely
    ultra-common shingles is skipped — by construction those pairs sit
    far below any useful threshold anyway).

    Scale shape: the hot-shingle set is tiny by definition (few shingles
    exceed the cap), so it broadcasts into a left-anti join — no extra
    shuffle of the postings; candidate pairing then behaves like the
    MinHash verify phase (touches candidates, never the corpus square).
    """
    docs = load_table(spark, "documents", sf)
    postings = _shingle_postings(docs)  # localCheckpointed: 4 references
    shared = _df_capped_shared(postings)
    counts = postings.groupBy("doc_id").agg(F.count("*").alias("n_tri"))
    na = counts.select(F.col("doc_id").alias("ia"), F.col("n_tri").alias("na"))
    nb = counts.select(F.col("doc_id").alias("ib"), F.col("n_tri").alias("nb"))
    return (
        shared.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia",
            "ib",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# shared candidate CTEs for BOTH df-capped scorers (jaccard and
# containment) — one definition so the oracle specs cannot drift apart,
# mirroring the Python side's shared _df_capped_shared
_DUCK_CAPPED_CANDS = f"""hot AS (
  SELECT sid FROM postings GROUP BY sid HAVING count(*) > {DF_CAP}
), rare AS (
  SELECT p.doc_id, p.sid FROM postings p
  WHERE p.sid NOT IN (SELECT sid FROM hot)
), cands AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM rare a JOIN rare b ON a.sid = b.sid AND a.doc_id < b.doc_id
), counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT c.ia, c.ib, count(*) AS shared
  FROM cands c
  JOIN postings pa ON pa.doc_id = c.ia
  JOIN postings pb ON pb.doc_id = c.ib AND pb.sid = pa.sid
  GROUP BY 1, 2
)"""

DEDUP_NGRAM_CAPPED_SQL = f"""
WITH {{postings}},
{_DUCK_CAPPED_CANDS}
SELECT s.ia, s.ib,
       round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
         AS jaccard
FROM shared s
JOIN counts na ON na.doc_id = s.ia
JOIN counts nb ON nb.doc_id = s.ib
WHERE round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
      >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH (the scale path) ------------------------------------------

def _perm_params(j: int) -> tuple[int, int]:
    """Affine permutation j: x -> (a_j * x + b_j) % p, small odd a_j so
    products stay far from int64 overflow on either engine."""
    return 2 * j + 1, j * 12_345 + 7


def _shingle_postings(
    docs: DataFrame,
    distinct: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """(doc_id, sid): hashed token-trigram shingles per doc (distinct
    by default; ``distinct=False`` keeps every occurrence, for
    repetition metrics).

    ONE mapInPandas pass over (doc_id, token-array) rows hashes tokens
    through a per-task memo (see _hash_tokens — no vocabulary job, no
    driver collect, no broadcast) and composes the trigram sids
    vectorized in int64 numpy — identical arithmetic to the oracle
    (Python/numpy int64 ≡ Spark long here: every intermediate
    < 3.8e10). This replaces the earlier explode → vocab
    broadcast-JOIN → window-``lead``-per-doc → distinct pipeline,
    whose ``Window.partitionBy(doc_id)`` SHUFFLED the full exploded
    token stream (corpus-sized) and whose distinct shuffled it again:
    the map-only form shuffles NOTHING and launches no side jobs —
    postings are born at the scan (guide §2.4).

    ``materialize`` localCheckpoints the postings: every dedup consumer
    references them 3-5× (df stats, pair join sides, per-doc counts),
    and RDD-block materialization computes the subtree once WITHOUT the
    InMemoryRelation row→columnar build that made ``cache()`` a net
    loss here (measured: capped dedup 17.3→9.2 s, exact 7.3→2.7 s at
    sf0.1). Pass ``materialize=False`` for single-pass consumers. On a
    multi-tenant cluster with dynamic allocation the durable equivalent
    is a one-off write of postings to doc_id-bucketed parquet.
    """
    import numpy as np
    import pandas as pd

    def shingles(batches):
        memo: dict = {}  # task-lifetime token-hash cache
        for pdf in batches:
            ids, sids = [], []
            for did, sid in _doc_sids(memo, pdf, distinct):
                ids.append(np.full(len(sid), did, dtype="int64"))
                sids.append(sid)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids) if ids else np.empty(0, "int64"),
                    "sid": np.concatenate(sids) if sids else np.empty(0, "int64"),
                }
            )

    out = docs.select("doc_id", _tokens(F.col("text")).alias("tk")).mapInPandas(
        shingles, schema="doc_id long, sid long"
    )
    return out.localCheckpoint() if materialize else out


def _hash_tokens(tk, memo: dict):
    """int64 polynomial hashes for one doc's token array, amortized
    through a PER-TASK memo dict (Zipf: most occurrences repeat, so
    each distinct token is folded once per task). Identical arithmetic
    to ``_str_hash`` / the oracle's ``list_reduce`` (ord == Spark
    ``ascii`` == DuckDB ``ascii``: the Unicode code point of the first
    character — here applied per split character).

    This replaces the r9 vocabulary job (corpus explode → distinct →
    hash → collect → broadcast): hashing is pure arithmetic, so there
    is nothing corpus-global about it — the collect bought only
    amortization, which the memo provides with ZERO driver state and
    one fewer Spark job per shingle consumer. The memo is cleared past
    VOCAB_MEMO_MAX entries to bound worker memory on adversarial
    all-distinct-token partitions."""
    import numpy as np

    if len(memo) > VOCAB_MEMO_MAX:
        memo.clear()
    get = memo.get
    out = np.empty(len(tk), dtype="int64")
    for i, t in enumerate(tk):
        h = get(t)
        if h is None:
            h = 0
            for ch in t:
                h = (h * HASH_BASE + ord(ch)) % HASH_MOD
            memo[t] = h
        out[i] = h
    return out


def _doc_sids(memo: dict, pdf, distinct: bool):
    """Yield (doc_id, int64 sid array) per doc of an Arrow batch —
    the shared trigram-composition kernel of _shingle_postings /
    _shingle_sets (identical arithmetic to the oracle; every
    intermediate < 3.8e10 so numpy int64 ≡ Spark long). ``memo`` is
    the task-lifetime token-hash cache (see _hash_tokens)."""
    import numpy as np

    for did, tk in zip(pdf["doc_id"], pdf["tk"]):
        # a NULL text row arrives as tk=None — the old explode pipeline
        # dropped it silently; mirror that instead of crashing the task
        # (ADVICE r9: crawl-shaped document frames can carry null text)
        if tk is None:
            continue
        n = len(tk)
        if n < 3:
            continue
        th = _hash_tokens(tk, memo)
        sid = (
            ((th[:-2] * HASH_BASE + th[1:-1]) % HASH_MOD) * 37 + th[2:]
        ) % HASH_MOD
        yield did, (np.unique(sid) if distinct else sid)


def _shingle_sets(
    docs: DataFrame,
    materialize: bool = True,
    with_minhash: bool = False,
) -> DataFrame:
    """(doc_id, sids sorted-unique array, n_tri): the DOC-level shingle
    sets, born at the scan by the same map-only pass as
    _shingle_postings — no groupBy/collect_list shuffle anywhere. The
    prefix-join queries need both the per-doc arrays (array-intersect
    verify) and the sizes (length/positional filters); deriving them
    from postings cost one corpus shuffle per reference. Postings are
    one explode away (``select(doc_id, explode(sids))``), which reads
    the checkpoint, so consumers needing both shapes materialize only
    this frame.

    ``with_minhash`` adds ``mh array<long>`` — the N_PERMS MinHash
    values min((sid*a_j+b_j) % HASH_MOD), computed vectorized in the
    SAME pass (numpy int64 ≡ Spark long: a_j ≤ 31 so sid*a_j < 3.2e10).
    This replaces the old signature plan's groupBy(doc_id) with 16 min
    aggs — a corpus shuffle of the postings — with zero extra jobs.
    Token hashing is per-task memoized (_hash_tokens): no vocabulary
    job, no driver collect, no broadcast."""
    import numpy as np
    import pandas as pd

    if with_minhash:
        pa = np.array([_perm_params(j)[0] for j in range(N_PERMS)], "int64")
        pb = np.array([_perm_params(j)[1] for j in range(N_PERMS)], "int64")

    def sets(batches):
        memo: dict = {}  # task-lifetime token-hash cache
        for pdf in batches:
            ids, arrs, mhs = [], [], []
            for did, sid in _doc_sids(memo, pdf, True):
                ids.append(did)
                arrs.append(sid)
                if with_minhash:
                    mhs.append(
                        (
                            (sid[None, :] * pa[:, None] + pb[:, None])
                            % HASH_MOD
                        ).min(axis=1)
                    )
            cols = {
                "doc_id": pd.Series(ids, dtype="int64"),
                "sids": pd.Series(arrs, dtype=object),
                "n_tri": pd.Series([len(a) for a in arrs], dtype="int64"),
            }
            if with_minhash:
                cols["mh"] = pd.Series(mhs, dtype=object)
            yield pd.DataFrame(cols)

    schema = "doc_id long, sids array<long>, n_tri long"
    if with_minhash:
        schema += ", mh array<long>"
    out = docs.select("doc_id", _tokens(F.col("text")).alias("tk")).mapInPandas(
        sets, schema=schema
    )
    return out.localCheckpoint() if materialize else out


_DUCK_POSTINGS = f"""
toks AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents)
), vocab AS (
  SELECT token, {_DUCK_STR_HASH.format(s='token')} AS th
  FROM (SELECT DISTINCT token FROM toks)
), hashed AS (
  SELECT t.doc_id, t.pos, v.th FROM toks t JOIN vocab v USING (token)
), postings AS (
  SELECT DISTINCT doc_id,
         (((th * {HASH_BASE} + lead(th, 1) OVER w) % {HASH_MOD}) * 37
          + lead(th, 2) OVER w) % {HASH_MOD} AS sid
  FROM hashed
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY sid IS NOT NULL
)"""


# --- containment (asymmetric overlap) ----------------------------------------

CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Document pairs where one side's trigram set is ≥80% contained in
    the other: containment(A→B) = |A∩B|/|A|. The asymmetric complement
    of Jaccard — a short doc quoted wholesale inside a long one scores
    near 1.0 here while Jaccard dilutes toward |A|/|B| and misses it
    (the boilerplate/quotation case exact-substring dedup targets).

    Same inverted-index candidate generation as dedup_ngram_jaccard;
    only the final scoring differs. CAVEAT (scale): the uncapped Σ df²
    cost is NOT bounded here — boilerplate shingles (exactly the
    content containment targets) have df proportional to corpus size,
    so this exact form degenerates quadratically on hot shingles. It
    is the small-SF verification spec; the shipping path at scale is
    :func:`dedup_containment_capped`, whose df cap bounds candidate
    generation the same way dedup_ngram_jaccard_capped does."""
    docs = load_table(spark, "documents", sf)
    # counts as a projection of the checkpointed doc sets, not a
    # groupBy shuffle over the exploded postings (same as the anchor)
    doc_sets = _shingle_sets(docs)
    tri = doc_sets.select("doc_id", F.explode("sids").alias("sid"))
    counts = doc_sets.select("doc_id", "n_tri")
    sc = docs.sparkSession.sparkContext
    # probe-side fan-out (same reasoning as the jaccard anchor)
    a = tri.repartition(sc.defaultParallelism, "sid").select(
        F.col("doc_id").alias("ia"), "sid"
    )
    b = tri.select(F.col("doc_id").alias("ib"), F.col("sid").alias("sidb"))
    shared = (
        a.join(b, (F.col("sid") == F.col("sidb")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("shared"))
    )
    na = counts.select(F.col("doc_id").alias("ia"), F.col("n_tri").alias("na"))
    nb = counts.select(F.col("doc_id").alias("ib"), F.col("n_tri").alias("nb"))
    contain_a = F.round(F.col("shared") / F.col("na"), 6)
    contain_b = F.round(F.col("shared") / F.col("nb"), 6)
    return (
        shared.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia",
            "ib",
            "shared",
            contain_a.alias("contain_a"),
            contain_b.alias("contain_b"),
        )
        .filter(
            F.greatest(F.col("contain_a"), F.col("contain_b"))
            >= CONTAINMENT_THRESHOLD
        )
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {{postings}},
counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
  FROM postings a JOIN postings b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia, ib, shared, contain_a, contain_b FROM (
  SELECT s.ia, s.ib, s.shared,
         round(CAST(s.shared AS DOUBLE) / na.n_tri, 6) AS contain_a,
         round(CAST(s.shared AS DOUBLE) / nb.n_tri, 6) AS contain_b
  FROM shared s
  JOIN counts na ON na.doc_id = s.ia
  JOIN counts nb ON nb.doc_id = s.ib
)
WHERE greatest(contain_a, contain_b) >= {CONTAINMENT_THRESHOLD}
"""


def dedup_containment_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Containment pairs like :func:`dedup_containment`, but candidates
    come from the df-capped rare-shingle join (``_df_capped_shared``,
    shared with dedup_ngram_jaccard_capped) — the shipping path at
    100 TB, where boilerplate shingles make the uncapped postings
    self-join quadratic. Scores are EXACT (the hot-shingle overlap is
    restored from the small hot subset before scoring); only recall is
    df-capped: a pair sharing solely >DF_CAP-df shingles is skipped,
    and that skip is part of this query's spec on both engines."""
    docs = load_table(spark, "documents", sf)
    tri = _shingle_postings(docs)
    shared = _df_capped_shared(tri)
    counts = tri.groupBy("doc_id").agg(F.count("*").alias("n_tri"))
    na = counts.select(F.col("doc_id").alias("ia"), F.col("n_tri").alias("na"))
    nb = counts.select(F.col("doc_id").alias("ib"), F.col("n_tri").alias("nb"))
    contain_a = F.round(F.col("shared") / F.col("na"), 6)
    contain_b = F.round(F.col("shared") / F.col("nb"), 6)
    return (
        shared.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia",
            "ib",
            "shared",
            contain_a.alias("contain_a"),
            contain_b.alias("contain_b"),
        )
        .filter(
            F.greatest(F.col("contain_a"), F.col("contain_b"))
            >= CONTAINMENT_THRESHOLD
        )
    )


DEDUP_CONTAINMENT_CAPPED_SQL = f"""
WITH {{postings}},
{_DUCK_CAPPED_CANDS}
SELECT ia, ib, shared, contain_a, contain_b FROM (
  SELECT s.ia, s.ib, s.shared,
         round(CAST(s.shared AS DOUBLE) / na.n_tri, 6) AS contain_a,
         round(CAST(s.shared AS DOUBLE) / nb.n_tri, 6) AS contain_b
  FROM shared s
  JOIN counts na ON na.doc_id = s.ia
  JOIN counts nb ON nb.doc_id = s.ib
)
WHERE greatest(contain_a, contain_b) >= {CONTAINMENT_THRESHOLD}
"""


# --- prefix-filtered EXACT containment join (asymmetric AllPairs) ------------

def _containment_prefix_candidates(doc_sets: DataFrame) -> DataFrame:
    """(ia, ib) candidate pairs for max-containment ≥ t, generated by
    the ASYMMETRIC prefix filter (Xiao et al. WWW'08 §4 adapted to
    overlap/containment similarity): a qualifying pair needs
    ``shared ≥ α = ⌈t·min(sa,sb)⌉``, so by pigeonhole the SMALLER
    document's rarest-first prefix of length ``s_min − α + 1`` must
    contain at least one shared shingle. Unlike Jaccard there is NO
    length filter (a tiny doc fully contained in a huge one is exactly
    the target), and the larger side's prefix bound degenerates to its
    full postings — so the join indexes prefix(smaller) × FULL(larger):

    - designation: the prefix side is the doc with fewer shingles,
      doc_id ascending on ties, so each unordered pair is probed from
      exactly one side;
    - positional filter (PPJoin): a shared shingle at rarest-first
      ranks (ra, rb) bounds ``|∩| ≤ 1 + min(sa−ra, sb−rb)``; pairs
      where NO shared token admits ``α`` are pruned inside the join.
      Keeping a pair when ANY token passes is a lossless superset of
      PPJoin's first-token bound.

    t = 4/5 exactly, so ``α = (4·s_min + 4) div 5`` in integer
    arithmetic on both engines. (The output predicate is on
    round(·, 6); for s_min < 4·10⁵ the 6-decimal round cannot admit a
    pair below α — the rounding slack 5e-7·s_min stays under the 1/5
    granularity of 4s/5.)
    """
    assert abs(CONTAINMENT_THRESHOLD - 0.8) < 1e-12, "prefix math assumes t=4/5"
    # map-only ranked postings (see _ranked_postings) — the full frame,
    # because the larger side's prefix bound degenerates to its full
    # postings; checkpointed: referenced twice (prefix side + full side)
    ranked = _ranked_postings(doc_sets, jaccard_prefix_only=False).localCheckpoint()
    alpha_small = F.floor((4 * F.col("na") + 4) / F.lit(5.0))
    prefix_len = F.col("na") - alpha_small + 1
    sc = doc_sets.sparkSession.sparkContext
    pa = ranked.select(
        F.col("doc_id").alias("da"),
        "sid",
        F.col("rk").alias("ra"),
        F.col("n_tri").alias("na"),
    ).filter(F.col("ra") <= prefix_len)
    # prefix side (pa) is the smaller frame and broadcasts; fan out the
    # FULL probe side, which otherwise inherits the checkpoint's
    # scan-derived 1-3 partitions (same trap as _prefix_candidates)
    pb = ranked.repartition(sc.defaultParallelism, "sid").select(
        F.col("doc_id").alias("db"),
        F.col("sid").alias("sidb"),
        F.col("rk").alias("rb"),
        F.col("n_tri").alias("nb"),
    )
    smaller_first = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("da") < F.col("db"))
    )
    return (
        pa.join(
            pb,
            (F.col("sid") == F.col("sidb"))
            & smaller_first
            & (
                1
                + F.least(
                    F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
                )
                >= alpha_small
            ),
        )
        .select(
            F.least("da", "db").alias("ia"),
            F.greatest("da", "db").alias("ib"),
        )
        .distinct()
    )


def dedup_containment_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT :func:`dedup_containment` answer via the asymmetric prefix
    filter — retires the second quadratic exact anchor (VERDICT r8
    Next #2) the way ``dedup_jaccard_prefix`` retired the Jaccard one:
    candidates come from prefix(smaller doc) × full postings instead
    of the full × full self-join, then the array-intersect verify
    scores survivors exactly. Lossless (pigeonhole on the smaller
    side's ``s − ⌈t·s⌉ + 1`` rarest shingles), so the output is
    bit-identical to the anchor — the oracle IS the anchor's SQL and
    the parity test asserts set equality plus a strict candidate-count
    reduction against the full self-join.

    Scale shape vs the anchor: the anchor's candidate cost is Σ df²
    over ALL shingles (boilerplate shingles make that corpus-quadratic
    — the exact failure mode containment dedup targets); here one side
    of every postings-pair must sit inside a rarest-first prefix, so
    hot boilerplate shingles (df ≈ corpus) participate only for docs
    whose prefix reaches them — docs that are mostly boilerplate —
    collapsing Σ df_full² to Σ df_prefix·df_full. The verify joins one
    shingle-set ARRAY per pair side (whole-stage ``array_intersect``),
    the same one-pass-per-side shape the Jaccard prefix path measured
    2× faster than explode-recount. Candidate reduction measured by
    ``test_containment_prefix``: strictly fewer candidates than the
    full self-join at sf0.01 (44%-class reduction at sf0.1, same
    near-uniform-df caveat as the Jaccard twin — Zipf-skewed real
    corpora prune far harder because prefixes shed exactly the hot
    shingles).
    """
    docs = load_table(spark, "documents", sf)
    # same one-materialization shape as dedup_jaccard_prefix
    doc_sets = _shingle_sets(docs)
    cands = _fan_out_pairs(_containment_prefix_candidates(doc_sets))
    shared = (
        cands.join(
            doc_sets.select(
                F.col("doc_id").alias("ia"),
                F.col("sids").alias("sa"),
                F.col("n_tri").alias("na"),
            ),
            "ia",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("ib"),
                F.col("sids").alias("sb"),
                F.col("n_tri").alias("nb"),
            ),
            "ib",
        )
        .select(
            "ia",
            "ib",
            F.size(F.array_intersect("sa", "sb")).alias("shared"),
            "na",
            "nb",
        )
    )
    return shared.select(
        "ia",
        "ib",
        "shared",
        F.round(F.col("shared") / F.col("na"), 6).alias("contain_a"),
        F.round(F.col("shared") / F.col("nb"), 6).alias("contain_b"),
    ).filter(
        F.greatest(F.col("contain_a"), F.col("contain_b"))
        >= CONTAINMENT_THRESHOLD
    )


def _mh_bands(doc_sets: DataFrame) -> DataFrame:
    """(doc_id, n_tri, band, band_key) from ``_shingle_sets(...,
    with_minhash=True)``: the signatures were already computed in the
    map-only scan pass (one numpy min per perm), so banding is a pure
    projection — the old postings-groupBy signature aggregate (a corpus
    shuffle of all postings into 16 min aggs) is gone. Band keys emit
    via one posexplode — NOT a 4-way unionAll, which would re-execute
    the source once per band. Shared by the full-corpus LSH and the
    incremental variant."""
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    F.col("mh").getItem(band * MH_BAND_SIZE + r)
                    for r in range(MH_BAND_SIZE)
                ],
            )
            for band in range(N_PERMS // MH_BAND_SIZE)
        ]
    )
    return doc_sets.select(
        "doc_id", "n_tri", F.posexplode(band_keys).alias("band", "band_key")
    )


def _verify_jaccard(cands: DataFrame, doc_sets: DataFrame) -> DataFrame:
    """Exact-Jaccard verification over candidate pairs (ia, ib, na,
    nb) → (ia, ib, jaccard ≥ threshold). Shared by every LSH variant
    so the round-6 arithmetic cannot drift. Verification joins each
    pair to the two docs' shingle-set ARRAYS and computes
    ``size(array_intersect(..))`` in whole-stage codegen (the
    dedup_jaccard_prefix discipline): postings are distinct per doc so
    the intersect size IS the shared count, and the old
    candidates × postings double join + re-groupBy — which re-shuffled
    Σ|candidate docs' postings| rows — is gone. NOT fanned out
    (_fan_out_pairs): banding keeps these candidate sets small
    (hundreds of pairs at sf0.1), and an interleaved A/B measured the
    extra exchange a wash-to-loss here, unlike the prefix verifies'
    ~150k-500k-pair streams."""
    return (
        cands.join(
            doc_sets.select(F.col("doc_id").alias("ia"), F.col("sids").alias("sa")),
            "ia",
        )
        .join(
            doc_sets.select(F.col("doc_id").alias("ib"), F.col("sids").alias("sb")),
            "ib",
        )
        .select(
            "ia",
            "ib",
            F.size(F.array_intersect("sa", "sb")).alias("shared"),
            "na",
            "nb",
        )
        .select(
            "ia",
            "ib",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _duck_bands_cte() -> str:
    """sigs/bands SQL CTEs (the twin of _mh_bands) — shared by the
    full-corpus and incremental LSH oracle generators."""
    mh_exprs = []
    for j in range(N_PERMS):
        a, b = _perm_params(j)
        mh_exprs.append(f"min((sid * {a} + {b}) % {HASH_MOD}) AS mh{j}")
    band_selects = []
    for band in range(N_PERMS // MH_BAND_SIZE):
        cols = " || ':' || ".join(
            f"CAST(mh{band * MH_BAND_SIZE + r} AS VARCHAR)" for r in range(MH_BAND_SIZE)
        )
        band_selects.append(
            f"SELECT doc_id, n_tri, {band} AS band, {cols} AS band_key FROM sigs"
        )
    bands_union = " UNION ALL ".join(band_selects)
    return f"""sigs AS (
  SELECT doc_id, {', '.join(mh_exprs)}, count(*) AS n_tri
  FROM postings GROUP BY doc_id
), bands AS (
  {bands_union}
)"""


def dedup_minhash_lsh(
    spark: SparkSession, sf: str, doc_sets: DataFrame | None = None
) -> DataFrame:
    """MinHash(16 perms) over hashed-trigram shingles, banded 4×4;
    pairs sharing a band key are candidates; exact shingle Jaccard
    (array-intersect over the doc shingle sets, restricted to
    candidates) verifies.

    Scale shape: signatures are computed in the map-only scan pass
    (zero shuffles — the old plan's postings groupBy is gone);
    candidates come from band-key equality joins; verification joins
    only candidate pairs to the doc-level set arrays. Nothing is
    quadratic in the corpus. ``doc_sets`` lets composed reports
    (release_readiness) share one materialized set frame.
    """
    if doc_sets is None:
        docs = load_table(spark, "documents", sf)
        # localCheckpointed (see _shingle_sets): 3 references below
        doc_sets = _shingle_sets(docs, with_minhash=True)
    bands = _mh_bands(doc_sets)
    a = bands.select(
        F.col("doc_id").alias("ia"),
        F.col("n_tri").alias("na"),
        "band",
        F.col("band_key").alias("ka"),
    )
    b = bands.select(
        F.col("doc_id").alias("ib"),
        F.col("n_tri").alias("nb"),
        F.col("band").alias("bandb"),
        F.col("band_key").alias("kb"),
    )
    cands = (
        a.join(
            b,
            (F.col("band") == F.col("bandb"))
            & (F.col("ka") == F.col("kb"))
            & (F.col("ia") < F.col("ib")),
        )
        .select("ia", "ib", "na", "nb")
        .distinct()
    )
    return _verify_jaccard(cands, doc_sets)


def _duck_minhash_sql() -> str:
    return f"""
WITH {_DUCK_POSTINGS},
{_duck_bands_cte()}, cands AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
         a.n_tri AS na, b.n_tri AS nb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), shared AS (
  SELECT c.ia, c.ib, c.na, c.nb, count(*) AS shared
  FROM cands c
  JOIN postings pa ON pa.doc_id = c.ia
  JOIN postings pb ON pb.doc_id = c.ib AND pb.sid = pa.sid
  GROUP BY 1, 2, 3, 4
)
SELECT ia, ib,
       round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
FROM shared
WHERE round(CAST(shared AS DOUBLE) / (na + nb - shared), 6)
      >= {JACCARD_THRESHOLD}
"""


# --- incremental near-dup (new batch vs corpus LSH index) --------------------

def dedup_incremental_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """The production daily-increment NEAR-dup shape, completing
    ``dedup_incremental``'s exact-match story: today's batch
    (doc_id % 10 == 0) is checked against the existing corpus's
    MinHash band index; every increment doc reports whether it
    near-duplicates the corpus and its best match.

    Only band keys and candidate postings move: at 100 TB the corpus
    band index persists as band-key-bucketed parquet, the increment's
    bands are tiny, and the band equi-join broadcasts the increment
    side; exact-Jaccard verification touches candidate pairs only.
    Deterministic best-match tiebreak (jaccard desc, base doc_id asc).
    """
    docs = load_table(spark, "documents", sf)
    doc_sets = _shingle_sets(docs, with_minhash=True)
    is_inc = F.col("doc_id") % 10 == 0
    bands = _mh_bands(doc_sets)
    inc_b = bands.filter(is_inc).select(
        F.col("doc_id").alias("inc_id"),
        F.col("n_tri").alias("n_inc"),
        "band",
        "band_key",
    )
    base_b = bands.filter(~is_inc).select(
        F.col("doc_id").alias("base_id"),
        F.col("n_tri").alias("n_base"),
        F.col("band").alias("band_b"),
        F.col("band_key").alias("key_b"),
    )
    cands = (
        inc_b.join(
            base_b,
            (F.col("band") == F.col("band_b"))
            & (F.col("band_key") == F.col("key_b")),
        )
        .select(
            F.col("inc_id").alias("ia"),
            F.col("base_id").alias("ib"),
            F.col("n_inc").alias("na"),
            F.col("n_base").alias("nb"),
        )
        .distinct()
    )
    scored = _verify_jaccard(cands, doc_sets).select(
        F.col("ia").alias("inc_id"), F.col("ib").alias("base_id"), "jaccard"
    )
    w = Window.partitionBy("inc_id").orderBy(
        F.col("jaccard").desc(), F.col("base_id").asc()
    )
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("inc_id", "base_id", "jaccard")
    )
    inc_docs = docs.filter(is_inc).select(F.col("doc_id").alias("inc_id"))
    return inc_docs.join(best, "inc_id", "left").select(
        F.col("inc_id").alias("doc_id"),
        F.col("jaccard").isNotNull().alias("is_near_duplicate"),
        F.col("base_id").alias("match_id"),
        F.col("jaccard").alias("best_jaccard"),
    )


def _duck_incremental_lsh_sql() -> str:
    return f"""
WITH {_DUCK_POSTINGS},
{_duck_bands_cte()}, cands AS (
  SELECT DISTINCT i.doc_id AS inc_id, b.doc_id AS base_id,
         i.n_tri AS n_inc, b.n_tri AS n_base
  FROM bands i JOIN bands b
    ON i.band = b.band AND i.band_key = b.band_key
  WHERE i.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
), scored AS (
  SELECT c.inc_id, c.base_id,
         round(CAST(count(*) AS DOUBLE)
               / (c.n_inc + c.n_base - count(*)), 6) AS jaccard
  FROM cands c
  JOIN postings pi ON pi.doc_id = c.inc_id
  JOIN postings pb ON pb.doc_id = c.base_id AND pb.sid = pi.sid
  GROUP BY c.inc_id, c.base_id, c.n_inc, c.n_base
  HAVING round(CAST(count(*) AS DOUBLE)
               / (c.n_inc + c.n_base - count(*)), 6) >= {JACCARD_THRESHOLD}
), best AS (
  SELECT inc_id, base_id, jaccard FROM (
    SELECT inc_id, base_id, jaccard,
           row_number() OVER (PARTITION BY inc_id
                              ORDER BY jaccard DESC, base_id ASC) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT d.doc_id,
       b.jaccard IS NOT NULL AS is_near_duplicate,
       b.base_id AS match_id,
       b.jaccard AS best_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN best b ON b.inc_id = d.doc_id
"""


# --- SimHash ------------------------------------------------------------------

def _simhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash signatures born at the scan —
    the same memoized-token-hash mapInPandas discipline as
    _shingle_postings. The old relational build exploded every token
    occurrence, broadcast-joined the vocabulary, and shuffled the
    occurrence stream into a 32-conditional-sum groupBy; the map-only
    pass computes the sign sums vectorized in numpy int64 (identical
    arithmetic: th < 2^31, weights are ±1 sums bounded by |doc|) and
    shuffles NOTHING and launches no vocabulary job. Docs with zero
    tokens emit no row, matching the explode+groupBy semantics."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    def sigs_fn(batches):
        memo: dict = {}  # task-lifetime token-hash cache
        for pdf in batches:
            ids, out = [], []
            for did, tk in zip(pdf["doc_id"], pdf["tk"]):
                # NULL text → tk=None: drop, matching explode semantics
                if tk is None:
                    continue
                n = len(tk)
                if n == 0:
                    continue
                th = _hash_tokens(tk, memo)
                w = (((th[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                ids.append(did)
                out.append(int(((w > 0).astype(np.int64) << shifts).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "simhash": pd.Series(out, dtype="int64"),
                }
            )

    return docs.select(
        "doc_id", _tokens(F.col("text")).alias("tk")
    ).mapInPandas(sigs_fn, schema="doc_id long, simhash long")


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash per doc (token-frequency-weighted sign sums), then
    the top-20 closest pairs by Hamming distance. Signatures are
    computed in the map-only scan pass (_simhash_sigs) with integer
    arithmetic identical to the oracle's relational build."""
    docs = load_table(spark, "documents", sf)
    sigs = _simhash_sigs(docs).cache()
    # Phase 0 — exact-duplicate signatures. Hamming-0 pairs dominate
    # any top-k, and near-dup corpora have heavy signature collision
    # (each colliding group of m docs is m² pairs — the quadratic blow
    # -up lives HERE, not across groups). A top-k pair ordered by
    # (ia, ib) can only use the ~k smallest doc_ids of its group:
    # rank-limit each group before pairing, so a million-duplicate
    # group contributes ≤ C(k+1,2) pairs instead of m².
    from pyspark.sql import Window

    wsig = Window.partitionBy("simhash").orderBy("doc_id")
    ranked = sigs.withColumn("rk", F.row_number().over(wsig)).filter(
        F.col("rk") <= SIMHASH_TOP + 1
    )
    ra = ranked.select("simhash", F.col("doc_id").alias("ia"))
    rb = ranked.select("simhash", F.col("doc_id").alias("ib"))
    intra = (
        ra.join(rb, "simhash")
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.lit(0).alias("hamming"))
        .cache()
    )
    if intra.count() >= SIMHASH_TOP:
        return intra.orderBy(F.asc("ia"), F.asc("ib")).limit(SIMHASH_TOP)
    # Phase 1 — candidate generation by banding (pigeonhole): split the 32-bit
    # signature into 4 bytes; any pair with hamming ≤ 3 agrees on at
    # least one byte, so an equi-join on (band, byte) finds all such
    # pairs at ~1/128 the cost of the n² cross join. If fewer than
    # SIMHASH_TOP pairs have hamming ≤ 3, the global top-k could
    # include un-banded pairs — fall back to the exact cross join
    # (adaptive two-phase; the oracle is the full specification either
    # way). At 100 TB the fallback never fires in practice and the
    # banded join is shuffle-partitioned on (band, byte).
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.shiftright(F.col("simhash"), 8 * k) % 256).cast("int")
                    for k in range(4)
                ]
            )
        ).alias("band", "bv"),
    )
    a = bands.select(
        F.col("doc_id").alias("ia"), F.col("simhash").alias("sa"), "band", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("ib"), F.col("simhash").alias("sb"), "band", "bv"
    )
    cands = (
        a.join(b, ["band", "bv"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.expr("bit_count(sa ^ sb)").alias("hamming"))
        .distinct()
        .cache()  # reused by the count probe AND the top-k pass
    )
    n_close = cands.filter(F.col("hamming") <= 3).count()
    if n_close < SIMHASH_TOP:  # Phase 2 — exact fallback: top-k not fully banded
        fa = sigs.select(F.col("doc_id").alias("ia"), F.col("simhash").alias("sa"))
        fb = sigs.select(F.col("doc_id").alias("ib"), F.col("simhash").alias("sb"))
        cands = fa.join(fb, F.col("ia") < F.col("ib")).select(
            "ia", "ib", F.expr("bit_count(sa ^ sb)").alias("hamming")
        )
    return cands.orderBy(
        F.asc("hamming"), F.asc("ia"), F.asc("ib")
    ).limit(SIMHASH_TOP)


_DUCK_TOKEN_HASH = _DUCK_STR_HASH.format(s="t")

DEDUP_SIMHASH_SQL = f"""
WITH th AS (
  SELECT doc_id,
         unnest(list_transform({_DUCK_TOKENS}, t -> {_DUCK_TOKEN_HASH})) AS th
  FROM documents
), bits AS (
  SELECT doc_id, i,
         sum(CASE WHEN (th >> i) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM th CROSS JOIN generate_series(0, {SIMHASH_BITS - 1}) t(i)
  GROUP BY doc_id, i
), sigs AS (
  SELECT doc_id,
         sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS ia, b.doc_id AS ib,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
ORDER BY hamming ASC, ia ASC, ib ASC
LIMIT {SIMHASH_TOP}
"""


# --- near-dup clusters (connected components; iterative) ---------------------

def _neardup_edges(docs: DataFrame) -> DataFrame:
    """(ia, ib) pairs with shingle Jaccard ≥ threshold — the near-dup
    graph shared by the clustering queries (same join shape as
    dedup_ngram_jaccard)."""
    # localCheckpointed doc sets: postings via explode, counts via
    # projection (no groupBy shuffle) — shared shape with the anchor
    doc_sets = _shingle_sets(docs)
    postings = doc_sets.select("doc_id", F.explode("sids").alias("sid"))
    counts = doc_sets.select("doc_id", "n_tri")
    sc = docs.sparkSession.sparkContext
    # probe-side fan-out (same reasoning as the jaccard anchor)
    a = postings.repartition(sc.defaultParallelism, "sid").select(
        F.col("doc_id").alias("ia"), "sid"
    )
    b = postings.select(F.col("doc_id").alias("ib"), F.col("sid").alias("sidb"))
    shared = (
        a.join(b, (F.col("sid") == F.col("sidb")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("shared"))
    )
    na = counts.select(F.col("doc_id").alias("ia"), F.col("n_tri").alias("na"))
    nb = counts.select(F.col("doc_id").alias("ib"), F.col("n_tri").alias("nb"))
    return (
        shared.join(na, "ia")
        .join(nb, "ib")
        .filter(
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            )
            >= JACCARD_THRESHOLD
        )
        .select("ia", "ib")
    )


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the near-dup pair graph: each document
    gets cluster_id = min doc_id reachable through Jaccard-≥-threshold
    edges; output is the non-singleton clusters (the dedup 'groups to
    collapse').

    Components via alternating large-star/small-star
    (operators/connected_components.py, Kiveris et al. SoCC 2014):
    O(log^2 n) rounds independent of component diameter — the 100 TB
    form (min-label propagation needs diameter rounds, unbounded on
    adversarial near-dup chains). The oracle is a recursive-CTE
    transitive closure."""
    docs = load_table(spark, "documents", sf)
    edges = _neardup_edges(docs)
    from ..operators.connected_components import connected_components

    # partitioning of the iterative rounds is derived inside
    # connected_components from the measured edge count
    labels = connected_components(edges, src="ia", dst="ib").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id", "cluster_id", F.count("*").over(w).alias("cluster_size")
    )


DEDUP_CLUSTERS_SQL_TEMPLATE = """
WITH {postings},
counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
  FROM postings a JOIN postings b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges0 AS (
  SELECT s.ia, s.ib
  FROM shared s
  JOIN counts na ON na.doc_id = s.ia
  JOIN counts nb ON nb.doc_id = s.ib
  WHERE round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
        >= {threshold}
), edges AS (
  SELECT ia, ib FROM edges0 UNION SELECT ib, ia FROM edges0
), nodes AS (
  SELECT DISTINCT ia AS doc_id FROM edges
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT r.src, e.ib FROM r JOIN edges e ON r.dst = e.ia
  )
  SELECT * FROM r
), comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT c.doc_id, c.cluster_id,
       count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
FROM comp c
"""


# --- duplicate-family size distribution --------------------------------------

def dedup_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Data-card view of near-dup structure: the distribution of
    duplicate-family sizes (how many clusters of 2, of 3, …) plus the
    docs each size class removes under keep-one-per-cluster. Rides the
    CC output — one bounded-key aggregate over cluster rows; the heavy
    lifting (and its scale posture) is dedup_clusters'."""
    clusters = dedup_clusters(spark, sf)
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.count_distinct("cluster_id")).alias(
                "docs_removed"
            ),
        )
    )


def _dedup_cluster_sizes_sql() -> str:
    inner = DEDUP_CLUSTERS_SQL_TEMPLATE.format(
        postings=_DUCK_POSTINGS, threshold=JACCARD_THRESHOLD
    )
    return f"""
WITH base AS ({inner})
SELECT cluster_size,
       count(DISTINCT cluster_id) AS n_clusters,
       count(*) AS n_docs,
       count(*) - count(DISTINCT cluster_id) AS docs_removed
FROM base
GROUP BY cluster_size
"""


# --- canonical selection (the corpus-level dedup output) ---------------------

def dedup_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """The actual 'deduplicate the corpus' answer: every document gets
    its near-dup cluster (singletons are their own cluster) and a
    ``keep`` flag — canonical = longest document in the cluster
    (max n_chars, min doc_id tiebreak), everything else is dropped.
    Downstream training-data builds consume ``WHERE keep``.

    Scale shape: the component labels cover only documents that appear
    in a near-dup edge — a small fraction of the corpus — so the
    corpus-side join is a broadcast left join (no shuffle of the big
    side); canonical selection windows only within clusters.
    """
    docs = load_table(spark, "documents", sf)
    edges = _neardup_edges(docs)
    from ..operators.connected_components import connected_components

    labels = connected_components(edges, src="ia", dst="ib").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cid")
    )
    full = (
        docs.select("doc_id", "n_chars")
        .join(F.broadcast(labels), "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("cid"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return full.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("keep"),
    )


DEDUP_KEEP_CANONICAL_SQL_TEMPLATE = """
WITH {postings},
counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
  FROM postings a JOIN postings b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges0 AS (
  SELECT s.ia, s.ib
  FROM shared s
  JOIN counts na ON na.doc_id = s.ia
  JOIN counts nb ON nb.doc_id = s.ib
  WHERE round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
        >= {threshold}
), edges AS (
  SELECT ia, ib FROM edges0 UNION SELECT ib, ia FROM edges0
), nodes AS (
  SELECT DISTINCT ia AS doc_id FROM edges
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT r.src, e.ib FROM r JOIN edges e ON r.dst = e.ia
  )
  SELECT * FROM r
), comp AS (
  SELECT src AS doc_id, min(dst) AS cid FROM reach GROUP BY src
), whole AS (
  SELECT d.doc_id, d.n_chars, coalesce(c.cid, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id ASC) = 1 AS keep
FROM whole
"""


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup — the production shape: a new batch of
    documents (here doc_id % 10 == 0 stands in for 'today's crawl')
    checked against the existing corpus's fingerprint index, marking
    which increment docs are already present. Only fingerprints move:
    the corpus side is SELECT DISTINCT sha256(text) — at 100 TB that
    index lives as bucketed parquet keyed by fingerprint, the daily
    increment is orders of magnitude smaller than the corpus, and AQE
    turns this equi-join into a broadcast of the increment side; no
    raw text ever shuffles (same fingerprint argument as
    ``dedup_exact``)."""
    docs = load_table(spark, "documents", sf)
    fp = F.sha2(F.col("text"), 256)
    base = (
        docs.filter(F.col("doc_id") % 10 != 0).select(fp.alias("fp")).distinct()
    )
    inc = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", fp.alias("fp")
    )
    return inc.join(
        base.withColumn("dup", F.lit(True)), "fp", "left"
    ).select(
        "doc_id", F.coalesce(F.col("dup"), F.lit(False)).alias("is_duplicate")
    )


DEDUP_INCREMENTAL_SQL = """
WITH base AS (
  SELECT DISTINCT sha256(text) AS fp FROM documents WHERE doc_id % 10 <> 0
), inc AS (
  SELECT doc_id, sha256(text) AS fp FROM documents WHERE doc_id % 10 = 0
)
SELECT i.doc_id, b.fp IS NOT NULL AS is_duplicate
FROM inc i LEFT JOIN base b USING (fp)
"""


def neardup_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the near-dup graph: how often near-duplicate
    pairs close into triangles — high closure means dup GROUPS (template
    families, mirrors), low closure means chains (incremental edits),
    which picks the right canonicalization strategy. The classic
    oriented-edge join: edges are already ia < ib, so each triangle
    a<b<c is counted exactly once by joining (a,b)⋈(b,c)⋈(a,c) — no
    permutation double-counting, work bounded by Σ deg² of the (small)
    edge graph, never the corpus."""
    docs = load_table(spark, "documents", sf)
    edges = _neardup_edges(docs).localCheckpoint()
    ab = edges.select(F.col("ia").alias("a"), F.col("ib").alias("b"))
    bc = edges.select(F.col("ia").alias("b"), F.col("ib").alias("c"))
    ac = edges.select(F.col("ia").alias("a"), F.col("ib").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    nodes = (
        ab.select(F.col("a").alias("n"))
        .union(ab.select(F.col("b").alias("n")))
        .distinct()
    )
    return (
        tri.agg(F.count("*").alias("n_triangles"))
        .crossJoin(edges.agg(F.count("*").alias("n_edges")))
        .crossJoin(nodes.agg(F.count("*").alias("n_nodes")))
    )


def clustering_coefficient(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document local clustering coefficient on the near-dup
    graph: ``2·T_v / (deg_v·(deg_v−1))`` — the node-level refinement of
    ``neardup_triangles``'s global census. A node with high coefficient
    sits INSIDE a template/mirror family (drop-all-but-canonical); a
    high-degree low-coefficient node is a hub stitching unrelated
    near-dup chains (split before canonicalizing) — the per-node signal
    the canonical-keep strategies act on.

    Exact fixed point: triangles come from the census's oriented-edge
    join (each a<b<c triangle counted once, then credited to all three
    corners); the coefficient is the integer
    ``(2e6·T_v) DIV (deg·(deg−1))``, NULL for deg < 2 by explicit
    guard on both engines (no division-by-zero artifact). Work is
    Σ deg² of the OUTPUT-sized near-dup edge set, never the corpus;
    edges are localCheckpointed once and reused by all three passes
    (oriented join sides, corner credit, degree count).
    """
    docs = load_table(spark, "documents", sf)
    edges = _neardup_edges(docs).select("ia", "ib").localCheckpoint()
    ab = edges.select(F.col("ia").alias("a"), F.col("ib").alias("b"))
    bc = edges.select(F.col("ia").alias("b"), F.col("ib").alias("c"))
    ac = edges.select(F.col("ia").alias("a"), F.col("ib").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    corners = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
    )
    tcount = corners.groupBy("v").agg(F.count("*").alias("n_tri"))
    deg = (
        edges.select(F.col("ia").alias("v"))
        .unionAll(edges.select(F.col("ib").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.join(tcount, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    "(2000000 * coalesce(n_tri, 0))"
                    " DIV (deg * (deg - 1))"
                ),
            ).alias("cc_e6"),
        )
    )


CLUSTERING_COEFFICIENT_SQL_TEMPLATE = """
WITH {postings},
counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
  FROM postings a JOIN postings b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), base_edges AS MATERIALIZED (
  SELECT s.ia, s.ib
  FROM shared s
  JOIN counts na ON na.doc_id = s.ia
  JOIN counts nb ON nb.doc_id = s.ib
  WHERE round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
        >= {threshold}
), tri AS MATERIALIZED (
  SELECT ab.ia AS a, ab.ib AS b, bc.ib AS c
  FROM base_edges ab
  JOIN base_edges bc ON ab.ib = bc.ia
  JOIN base_edges ac ON ac.ia = ab.ia AND ac.ib = bc.ib
), corners AS (
  SELECT a AS v FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), tcount AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM corners GROUP BY v
), deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT ia AS v FROM base_edges UNION ALL SELECT ib FROM base_edges)
  GROUP BY v
)
SELECT d.v AS doc_id, d.deg,
       coalesce(t.n_tri, 0) AS n_tri,
       CASE WHEN d.deg >= 2 THEN
         (2000000 * coalesce(t.n_tri, 0)) // (d.deg * (d.deg - 1))
       END AS cc_e6
FROM deg d LEFT JOIN tcount t ON t.v = d.v
"""


NEARDUP_TRIANGLES_SQL_TEMPLATE = """
WITH {postings},
counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
  FROM postings a JOIN postings b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT s.ia, s.ib
  FROM shared s
  JOIN counts na ON na.doc_id = s.ia
  JOIN counts nb ON nb.doc_id = s.ib
  WHERE round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
        >= {threshold}
), tri AS (
  SELECT count(*) AS n_triangles
  FROM edges ab
  JOIN edges bc ON ab.ib = bc.ia
  JOIN edges ac ON ac.ia = ab.ia AND ac.ib = bc.ib
), stats AS (
  SELECT (SELECT count(*) FROM edges) AS n_edges,
         (SELECT count(*) FROM (
            SELECT ia AS n FROM edges UNION SELECT ib FROM edges)) AS n_nodes
)
SELECT t.n_triangles, s.n_edges, s.n_nodes FROM tri t CROSS JOIN stats s
"""


KCORE_K = 2        # core order: keep nodes with >= K surviving neighbors
KCORE_ROUNDS = 8   # bounded peeling depth (fixpoint asserted in tests)


def _driver_kcore(edge_rows: list) -> list:
    """Synchronous bounded peel on collected symmetrized edges — the
    EXACT Python mirror of the distributed loop below (same round
    structure, same early break on a stable edge count), so both paths
    land on identical (doc_id, core_deg) rows."""
    from collections import Counter

    cur = edge_rows
    n_prev = len(cur)
    for _ in range(KCORE_ROUNDS):
        deg = Counter(a for a, _ in cur)
        keep = {v for v, d in deg.items() if d >= KCORE_K}
        cur = [(a, b) for a, b in cur if a in keep and b in keep]
        if len(cur) == n_prev:
            break
        n_prev = len(cur)
    out = Counter(a for a, _ in cur)
    return sorted(out.items())


def kcore_decomposition(spark: SparkSession, sf: str) -> DataFrame:
    """k-core of the near-dup graph via bounded peeling: repeatedly
    drop documents with fewer than K surviving near-dup neighbors,
    {R} rounds. Survivors are the DENSE duplication families — the
    standard graph trim that separates template/mirror cores (keep one
    canonical, drop the rest wholesale) from incidental pairwise
    near-dups that chain off them; complements ``neardup_triangles``
    (global closure) and ``dedup_clusters`` (connectivity) with local
    density. Returns (doc_id, core_deg) for core members.

    Bounded-depth peeling IS the spec (the oracle unrolls exactly {R}
    identical SQL stages): peeling is monotone — each round only
    removes nodes and a fixpoint is idempotent — so if convergence
    happens inside {R} rounds (asserted on the test corpora, and the
    Spark loop breaks early on a stable edge count) both engines land
    on the true k-core; past {R} both engines have run the same {R}
    rounds. DuckDB's recursive CTE cannot re-aggregate degrees per
    round, hence the unroll.

    Scale: each round is one degree aggregate + two semi-joins on the
    near-dup EDGE set — output-sized (pairs that already passed the
    Jaccard threshold), never corpus-sized. The driver loop
    localCheckpoints the shrinking edge set per round (the
    ``dedup_clusters`` CC discipline: output-sized, referenced twice
    per round — without truncation each round would re-derive the
    whole chain, doubling work per round).

    Adaptive execution (r10, the ``connected_components`` precedent):
    up to ``connected_components.DRIVER_FALLBACK_EDGES`` symmetrized
    edges (the same gate, read through the module) the peel runs
    as a driver loop over collected pairs — at that size the
    distributed rounds are pure scheduling overhead (≤ R × (aggregate
    + two joins + checkpoint + count job) for microseconds of work).
    The Python loop is the SAME synchronous peel (round-identical,
    test-pinned against the distributed path); the distributed loop
    is the only path that matters at 100 TB and stays the default
    above the threshold.
    """
    from ..operators import connected_components as cc

    docs = load_table(spark, "documents", sf)
    base = _neardup_edges(docs).select("ia", "ib")
    # explode-symmetrize: ONE execution of the jaccard pipeline (the
    # union form ran it once per branch inside this checkpoint)
    cur = symmetrize_pairs(base).localCheckpoint()
    n_prev = cur.count()
    if n_prev <= cc.DRIVER_FALLBACK_EDGES:
        labels = _driver_kcore([(r.ia, r.ib) for r in cur.collect()])
        return spark.createDataFrame(
            labels or [], "doc_id long, core_deg long"
        )
    for _ in range(KCORE_ROUNDS):
        keep = (
            cur.groupBy("ia")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("ia")
            .localCheckpoint()
        )
        cur = (
            cur.join(keep, "ia")
            .join(keep.select(F.col("ia").alias("ib")), "ib")
            .localCheckpoint()
        )
        n_cur = cur.count()
        if n_cur == n_prev:  # fixpoint: further rounds are no-ops
            break
        n_prev = n_cur
    return cur.groupBy(F.col("ia").alias("doc_id")).agg(
        F.count("*").alias("core_deg")
    )


if kcore_decomposition.__doc__:  # absent under python -OO
    kcore_decomposition.__doc__ = kcore_decomposition.__doc__.format(
        R=KCORE_ROUNDS
    )


# --- HyperANF neighborhood function over the near-dup graph ------------------

HYPERANF_RADIUS = 4


def neardup_neighborhood_function(spark: SparkSession, sf: str) -> DataFrame:
    """The neighborhood function N(r) of the near-dup graph for
    r = 0..{R} via full HyperANF (Boldi & Vigna, WWW'11) — how fast
    duplication families close over each other as hops grow, the
    diameter/connectivity profile a dedup pipeline reads before
    deciding cluster-level policies (a corpus whose N(r) saturates at
    r=2 is mirror-clusters; slow growth means long chains that
    transitive canonical-keep would over-merge). Generalizes the
    radius-2 truncation `spatial_two_hop_reach_approx` runs on the
    spatial graph to the full iterative recurrence:

        c_0(v) = {{v}};  c_r(v) = c_{{r-1}}(v) ∪ ⋃_{{u∈N(v)}} c_{{r-1}}(u)

    with every c_r(v) a DataSketches HLL, so a round is ONE edge join
    + ONE mergeable union aggregate — Σdeg bounded-size sketch merges
    per round, never path enumeration (exact |B(v,r)| would witness
    Σ paths(r), combinatorial at r ≥ 3). Output: per radius, the
    summed ball estimate N(r), its per-doc mean (e6 fixed-point of the
    already-approximate estimate), and the doc count — the classic
    HyperANF readout.

    Scale: state is one bounded sketch per EDGE-GRAPH NODE — not per
    corpus document (r10, guide §2.3): a doc with no near-dup edge has
    N(r) = 1 at every radius, so its sketch never changes and never
    needs to exist; the recurrence runs over the graph's nodes only
    (|V_edges| ≪ corpus for a post-threshold near-dup graph) and each
    round's readout adds the (n_docs − n_edge_nodes) singleton balls
    as a closed-form constant. Sum/mean per radius are value-identical
    to the per-doc form (an HLL of the same set has the same registers
    regardless of construction order). Edges are the OUTPUT-sized
    near-dup pairs (post-threshold); each round localCheckpoints the
    new sketch table (same lineage-truncation discipline as the
    CC/k-core loops — without it round R re-derives R joins). Fixed
    radius bounds the loop; r=0 is emitted exactly (every ball is its
    own node). No SQL oracle exists for sketch internals
    (ORACLE_EXEMPT; rows-only driver check) — test_hyperanf bounds
    every N(r) against exact python BFS.
    """
    docs = load_table(spark, "documents", sf)
    # one checkpoint, not two: explode-symmetrize references the
    # jaccard pipeline once, so the base-edges barrier the union form
    # needed (to avoid running the pipeline per branch) is gone
    edges = symmetrize_pairs(_neardup_edges(docs)).localCheckpoint()
    n_docs = docs.count()
    # seed sketches for edge-graph nodes only: HLL{v} per distinct ia
    # (symmetrized edges list every node as ia) — one graph-sized
    # groupBy, no corpus-wide sketch build
    sk = (
        edges.groupBy(F.col("ia").alias("doc_id"))
        .agg(F.hll_sketch_agg(F.col("ia")).alias("sk"))
        .localCheckpoint()
    )
    out = spark.createDataFrame(
        [(0, n_docs, n_docs, 1_000_000)],
        "radius int, n_docs long, ball_sum long, mean_ball_e6 long",
    )
    for r in range(1, HYPERANF_RADIUS + 1):
        nbr = edges.join(
            sk.select(F.col("doc_id").alias("ib"), "sk"), "ib"
        ).select(F.col("ia").alias("doc_id"), "sk")
        sk = (
            nbr.union(sk)
            .groupBy("doc_id")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .localCheckpoint()
        )
        round_row = (
            sk.select(
                F.round(F.hll_sketch_estimate("sk"))
                .cast("long")
                .alias("ball")
            )
            .agg(
                F.count("*").alias("n_nodes"),
                F.sum("ball").alias("ball_sum_nodes"),
            )
            .select(
                F.lit(r).alias("radius"),
                F.lit(n_docs).alias("n_docs"),
                # singleton docs contribute ball = 1 each, in closed form
                (
                    F.col("ball_sum_nodes") + F.lit(n_docs) - F.col("n_nodes")
                ).alias("ball_sum"),
            )
            .select(
                "radius",
                "n_docs",
                "ball_sum",
                F.expr(f"(1000000 * ball_sum) DIV {n_docs}").alias(
                    "mean_ball_e6"
                ),
            )
        )
        out = out.unionByName(round_row)
    return out


if neardup_neighborhood_function.__doc__:  # absent under python -OO
    neardup_neighborhood_function.__doc__ = (
        neardup_neighborhood_function.__doc__.format(R=HYPERANF_RADIUS)
    )


def _kcore_sql() -> str:
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # stage references its predecessor three times (degree scan + both
    # semi-join sides), so the unroll would expand to 3^R copies of the
    # postings scan — measured as an EMFILE crash at R=8, not just slow.
    # base_edges is MATERIALIZED too: e0's UNION ALL references it
    # twice, which would otherwise run the postings self-join twice.
    stages = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        stages.append(
            f"k{r} AS MATERIALIZED (\n"
            f"  SELECT ia FROM (SELECT ia, count(*) AS c FROM {prev}"
            f" GROUP BY ia)\n"
            f"  WHERE c >= {KCORE_K}\n"
            f"), e{r} AS MATERIALIZED (\n"
            f"  SELECT e.ia, e.ib FROM {prev} e\n"
            f"  JOIN k{r} a ON e.ia = a.ia\n"
            f"  JOIN k{r} b ON e.ib = b.ia\n"
            f")"
        )
        prev = f"e{r}"
    return KCORE_SQL_TEMPLATE.format(
        postings=_DUCK_POSTINGS,
        threshold=JACCARD_THRESHOLD,
        stages=", ".join(stages),
        last=prev,
    )


KCORE_SQL_TEMPLATE = """
WITH {postings},
counts AS (
  SELECT doc_id, count(*) AS n_tri FROM postings GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
  FROM postings a JOIN postings b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), base_edges AS MATERIALIZED (
  SELECT s.ia, s.ib
  FROM shared s
  JOIN counts na ON na.doc_id = s.ia
  JOIN counts nb ON nb.doc_id = s.ib
  WHERE round(CAST(s.shared AS DOUBLE) / (na.n_tri + nb.n_tri - s.shared), 6)
        >= {threshold}
), e0 AS MATERIALIZED (
  SELECT ia, ib FROM base_edges UNION ALL SELECT ib, ia FROM base_edges
), {stages}
SELECT ia AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
FROM {last} GROUP BY ia
"""


def duplicate_span_fraction(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc fraction of token-trigram OCCURRENCES that also occur in
    at least one other document — the bounded relational analog of the
    exact-substring duplication diagnostic (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a doc
    whose spans are mostly corpus-shared is boilerplate/template even
    when no single pair crosses a Jaccard threshold.

    Work is linear: one occurrence table (no pair joins), one distinct
    (doc, sid) pass for document frequency, and a sid-keyed equi-join
    of occurrences against the shared-sid set (high-cardinality hash
    key, no Σdf² blowup because nothing pairs docs with docs).
    """
    docs = load_table(spark, "documents", sf)
    occ = _shingle_postings(docs, distinct=False)
    shared = (
        occ.select("doc_id", "sid")
        .distinct()
        .groupBy("sid")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("sid")
    )
    flagged = occ.join(shared, "sid", "left_semi").groupBy("doc_id").agg(
        F.count("*").alias("n_dup")
    )
    totals = occ.groupBy("doc_id").agg(F.count("*").alias("n_trigrams"))
    return (
        totals.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_trigrams",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.round(
                F.coalesce("n_dup", F.lit(0)) / F.col("n_trigrams"), 6
            ).alias("dup_fraction"),
        )
        .withColumn("mostly_duplicated", F.col("dup_fraction") > 0.5)
    )


# occurrence-level postings: the shared CTE macro minus its DISTINCT
# (every trigram occurrence counts toward the span fraction)
_DUCK_POSTINGS_OCC = _DUCK_POSTINGS.replace(
    "SELECT DISTINCT doc_id,", "SELECT doc_id,"
)
# a reformat of _DUCK_POSTINGS must not silently turn this back into
# the DISTINCT form — fail at import, not as a distant oracle mismatch
assert _DUCK_POSTINGS_OCC != _DUCK_POSTINGS

DUPLICATE_SPAN_FRACTION_SQL = """
WITH {postings},
shared AS (
  SELECT sid FROM (SELECT DISTINCT doc_id, sid FROM postings)
  GROUP BY sid HAVING count(*) >= 2
), totals AS (
  SELECT doc_id, count(*) AS n_trigrams FROM postings GROUP BY doc_id
), dup AS (
  SELECT p.doc_id, count(*) AS n_dup
  FROM postings p JOIN shared s USING (sid)
  GROUP BY p.doc_id
)
SELECT t.doc_id, t.n_trigrams,
       coalesce(d.n_dup, 0) AS n_dup,
       round(coalesce(d.n_dup, 0) / CAST(t.n_trigrams AS DOUBLE), 6)
         AS dup_fraction,
       round(coalesce(d.n_dup, 0) / CAST(t.n_trigrams AS DOUBLE), 6) > 0.5
         AS mostly_duplicated
FROM totals t LEFT JOIN dup d USING (doc_id)
"""


def fuzzy_name_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Record linkage: supplier-name pairs at Levenshtein distance
    EXACTLY 1, found via pigeonhole blocking — equal-length strings at
    distance 1 differ by one substitution, which lands in one half, so
    every true pair agrees exactly on the OTHER half. Candidates =
    (equal first half) ∪ (equal second half); verify = levenshtein on
    candidates only. Provably complete for this fixed-length key
    domain (general edit distance k blocks on k+1 pieces), and the
    block key is high-cardinality, so candidate work is Σ block² of
    SMALL blocks — never the n² cross join.
    """
    sup = load_table(spark, "supplier", sf).select(
        F.col("s_suppkey").alias("id"), F.col("s_name").alias("name")
    )
    h = "CAST(floor(length(name) / 2) AS INT)"
    blocked = sup.selectExpr(
        "id", "name",
        f"substring(name, 1, {h}) AS b1",
        f"substring(name, {h} + 1) AS b2",
    )
    a = blocked.selectExpr("id AS id_a", "name AS name_a", "b1", "b2")
    b = blocked.selectExpr("id AS id_b", "name AS name_b", "b1", "b2")
    cand = (
        a.join(b.drop("b2"), "b1")
        .select("id_a", "name_a", "id_b", "name_b")
        .union(
            a.drop("b1").join(b.drop("b1"), "b2")
            .select("id_a", "name_a", "id_b", "name_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return cand.filter(
        F.levenshtein("name_a", "name_b") == 1
    ).select("id_a", "id_b", "name_a", "name_b")


FUZZY_NAME_PAIRS_SQL = """
WITH blocked AS (
  SELECT s_suppkey AS id, s_name AS name,
         substring(s_name, 1, CAST(floor(length(s_name) / 2) AS INT)) AS b1,
         substring(s_name, CAST(floor(length(s_name) / 2) AS INT) + 1) AS b2
  FROM supplier
), cand AS (
  SELECT DISTINCT a.id AS id_a, a.name AS name_a,
                  b.id AS id_b, b.name AS name_b
  FROM blocked a JOIN blocked b ON a.b1 = b.b1 AND a.id < b.id
  UNION
  SELECT DISTINCT a.id, a.name, b.id, b.name
  FROM blocked a JOIN blocked b ON a.b2 = b.b2 AND a.id < b.id
)
SELECT id_a, id_b, name_a, name_b
FROM cand
WHERE levenshtein(name_a, name_b) = 1
"""


# --- winnowing fingerprints (Schleimer et al., SIGMOD 2003) ------------------

WINNOW_K = 8  # char-gram length (noise threshold: matches < K chars ignored)
WINNOW_W = 4  # window size in grams; guarantee length t = K + W - 1
# position packing bound: selection key = h * M + (M-1-i) needs i < M.
# h < 1e9+7 < 2^30, M = 2^21 → key < 2^51, safely inside int64. Docs
# longer than 2M chars would need a larger M or per-chunk winnowing;
# the corpus schema caps documents far below that.
_WINNOW_POS_M = 1 << 21


def _winnow_selected(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint selection over (doc_id, text): in every
    window of WINNOW_W consecutive K-gram hashes, select the minimum
    (rightmost on ties). Guarantee (Schleimer et al. §2): any exact
    substring match of length ≥ K+W-1 shares at least one selected
    fingerprint, while only ~2/(W+1) of grams are kept — the sampled
    scale path for exact-substring dedup (Lee et al. 2022 use the same
    idea to make ExactSubstr tractable).

    The rightmost-min-per-window rule is one bounded window-min: pack
    (hash, position) into a single int64 key = h*M + (M-1-i) so that
    min(key) is (min h, rightmost i); a window ending at gram i is only
    emitted for i ≥ W (full windows), with the single partial window
    kept for docs shorter than W grams. Selected fingerprints are the
    DISTINCT window minima. Per-doc windows parallelize across docs
    (documents are KB-sized; no skew); nothing here is corpus-quadratic.

    Returns (doc_id, n_grams, pos, fp_hash), one row per selected
    fingerprint position.
    """
    eligible = docs.filter(F.length("text") >= WINNOW_K).select(
        "doc_id", "text", (F.length("text") - WINNOW_K + 1).cast("long").alias("n_grams")
    )
    # shuffle the RAW documents by the window key, not the grams: the
    # explode multiplies rows ~|text|-fold, so hash-partitioning
    # doc_id here (a) parallelizes the explode+hash even off a
    # single-split scan and (b) already satisfies the window's
    # ClusteredDistribution — the gram rows themselves never shuffle.
    # At 100 TB this trades a chars-sized shuffle for a grams-sized
    # one. The partition count is EXPLICIT: AQE sizes coalescing by the
    # pre-explode bytes (KB-sized docs), folds the exchange back to one
    # partition, and the ~|text|-fold explode+window then runs in a
    # single task (measured 13 s vs 0.5 s at sf0.1); an explicit N
    # pins the fan-out to the cluster width.
    eligible = eligible.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # ONE char-code extraction per position; the other K-1 codes of
    # each gram arrive via lead() on the same (doc_id, i) sort the
    # min-window needs anyway. The obvious alternatives both lost by an
    # order of magnitude: _str_hash(substring(text,i,K)) builds a char
    # ARRAY per gram and folds it interpreted (GC-bound, 42-728 s at
    # the 8× probe), and even a flat K-substring expression allocates
    # 8 UTF8Strings per gram (~18M tiny objects at sf0.1, 5-20 s warm
    # with wild GC variance). This shape is 0.9 s warm at sf0.1.
    chars = eligible.select(
        "doc_id",
        "n_grams",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
        "text",
    ).select(
        "doc_id",
        "n_grams",
        "i",
        F.ascii(F.expr("substring(text, i, 1)")).cast("long").alias("c"),
    )
    w_lead = Window.partitionBy("doc_id").orderBy("i")
    gram_hash = F.col("c")
    for _j in range(1, WINNOW_K):
        gram_hash = (
            gram_hash * HASH_BASE + F.lead("c", _j).over(w_lead)
        ) % HASH_MOD
    keyed = chars.select(
        "doc_id",
        "n_grams",
        "i",
        (
            gram_hash * _WINNOW_POS_M
            + (F.lit(_WINNOW_POS_M - 1) - F.col("i"))
        ).alias("k"),
    ).filter(F.col("i") <= F.col("n_grams"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    selected = (
        keyed.withColumn("mk", F.min("k").over(w))
        .filter(F.col("i") >= F.least(F.lit(WINNOW_W), F.col("n_grams")))
        .select("doc_id", "n_grams", "mk")
        .distinct()
    )
    return selected.select(
        "doc_id",
        "n_grams",
        (F.lit(_WINNOW_POS_M - 1) - F.col("mk") % _WINNOW_POS_M).alias("pos"),
        F.expr(f"mk div {_WINNOW_POS_M}").alias("fp_hash"),
    )


def winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc winnowing fingerprint profile + corpus-shared fraction:
    how much of each document's sampled fingerprint set also appears in
    at least one other document — the guarantee-bearing, sampled
    counterpart of duplicate_span_fraction (which counts EVERY trigram
    occurrence; winnowing touches ~2/(W+1) of grams yet still catches
    every shared span of ≥ K+W-1 chars).

    Scale shape: one explode to O(total chars) rows, one bounded
    per-doc window-min, one distinct, then fingerprint-keyed df
    counting (high-cardinality key, map-side combinable) and a
    semi-join — no doc-pair join anywhere, so work is linear in the
    corpus where pairwise ExactSubstr would be quadratic.

    The ratio columns use the floor-of-exact-ints projection (the
    event_cube pattern), not round(): n_selected/n_grams is a single
    exact-int division, but dyadic ratios (e.g. 45/128) land EXACTLY
    on 6dp rounding midpoints (tools/round_margin_audit.py measured
    1.7e-11 quanta at sf0.01), where engines' round() tie rules must
    not be trusted; floor(n*1e6/d + 0.5) is the same deterministic
    double everywhere.
    """
    docs = load_table(spark, "documents", sf)
    fps = _winnow_selected(docs.select("doc_id", "text"))
    # ONE linear pass, no self-reference: referencing fps from three
    # branches (df count, per-doc profile, shared semi-join) re-ran the
    # whole explode+window pipeline per branch (728 s at the 8× probe),
    # and a localCheckpoint barrier fixes the recompute only to pay the
    # .rdd path's interpreted execution (13 s warm for work codegen
    # does in 0.35 s). The selected stream shuffles ONCE, keyed by
    # fp_hash alone: HashPartitioning(fp_hash) satisfies the
    # (fp_hash, doc_id) groupBy's clustering (a subset of its keys), so
    # the per-(fp, doc) position count, the df_docs sharing window, and
    # nothing in between adds an exchange; only the final per-doc
    # aggregate reshuffles — and it moves one row per (fp, doc) instead
    # of one per selected position. (The earlier shape paid three full
    # selected-stream shuffles: (fp, doc) window, fp window, doc agg.)
    sc = docs.sparkSession.sparkContext
    w_fp = Window.partitionBy("fp_hash")
    flagged = (
        fps.repartition(sc.defaultParallelism, "fp_hash")
        .groupBy("fp_hash", "doc_id", "n_grams")
        .agg(F.count("*").alias("n_pos"))
        .withColumn("df_docs", F.count("*").over(w_fp))
        .withColumn("is_shared", F.col("df_docs") >= 2)
    )
    return (
        flagged.groupBy("doc_id", "n_grams")
        .agg(
            F.sum("n_pos").alias("n_selected"),
            F.sum(F.when(F.col("is_shared"), F.col("n_pos")).otherwise(0)).alias(
                "n_shared"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_selected",
            "n_shared",
            (
                F.floor(
                    F.col("n_selected") * F.lit(1000000.0) / F.col("n_grams")
                    + F.lit(0.5)
                ) / F.lit(1000000.0)
            ).alias("selected_density"),
            (
                F.floor(
                    F.col("n_shared")
                    * F.lit(1000000.0) / F.col("n_selected")
                    + F.lit(0.5)
                ) / F.lit(1000000.0)
            ).alias("shared_fraction"),
        )
    )


WINNOWING_FINGERPRINTS_SQL = f"""
WITH eligible AS (
  SELECT doc_id, text, CAST(length(text) - {WINNOW_K} + 1 AS BIGINT) AS n_grams
  FROM documents WHERE length(text) >= {WINNOW_K}
), grams AS (
  SELECT doc_id, n_grams, unnest(generate_series(1, n_grams)) AS i, text
  FROM eligible
), keyed AS (
  SELECT doc_id, n_grams, i,
         {_DUCK_STR_HASH.format(s=f"substr(text, CAST(i AS INT), {WINNOW_K})")}
           * {_WINNOW_POS_M} + ({_WINNOW_POS_M - 1} - i) AS k
  FROM grams
), winmin AS (
  SELECT doc_id, n_grams, i,
         min(k) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS mk
  FROM keyed
), selected AS (
  SELECT DISTINCT doc_id, n_grams, mk
  FROM winmin WHERE i >= least({WINNOW_W}, n_grams)
), fps AS (
  SELECT doc_id, n_grams, mk // {_WINNOW_POS_M} AS fp_hash FROM selected
), shared AS (
  SELECT fp_hash FROM (SELECT DISTINCT doc_id, fp_hash FROM fps)
  GROUP BY fp_hash HAVING count(*) >= 2
), per_doc AS (
  SELECT doc_id, n_grams, count(*) AS n_selected
  FROM fps GROUP BY doc_id, n_grams
), ns AS (
  SELECT f.doc_id, count(*) AS n_shared
  FROM fps f JOIN shared s USING (fp_hash)
  GROUP BY f.doc_id
)
SELECT p.doc_id, p.n_grams, p.n_selected,
       coalesce(n.n_shared, 0) AS n_shared,
       floor(p.n_selected * 1000000.0 / p.n_grams + 0.5) / 1000000.0
         AS selected_density,
       floor(coalesce(n.n_shared, 0) * 1000000.0 / p.n_selected + 0.5)
         / 1000000.0 AS shared_fraction
FROM per_doc p LEFT JOIN ns n USING (doc_id)
"""


DEDUP_QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "fuzzy_name_pairs": (fuzzy_name_pairs, FUZZY_NAME_PAIRS_SQL),
    "winnowing_fingerprints": (
        winnowing_fingerprints,
        WINNOWING_FINGERPRINTS_SQL,
    ),
    "duplicate_span_fraction": (
        duplicate_span_fraction,
        DUPLICATE_SPAN_FRACTION_SQL.format(postings=_DUCK_POSTINGS_OCC),
    ),
    "dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL),
    "neardup_triangles": (
        neardup_triangles,
        NEARDUP_TRIANGLES_SQL_TEMPLATE.format(
            postings=_DUCK_POSTINGS, threshold=JACCARD_THRESHOLD
        ),
    ),
    "dedup_ngram_jaccard": (
        dedup_ngram_jaccard,
        DEDUP_NGRAM_JACCARD_SQL.format(postings=_DUCK_POSTINGS),
    ),
    # prefix filtering is lossless, so the exact anchor's SQL IS its
    # oracle — any false negative the prefix join introduced would
    # hash-mismatch here
    "dedup_jaccard_prefix": (
        dedup_jaccard_prefix,
        DEDUP_NGRAM_JACCARD_SQL.format(postings=_DUCK_POSTINGS),
    ),
    "dedup_containment": (
        dedup_containment,
        DEDUP_CONTAINMENT_SQL.format(postings=_DUCK_POSTINGS),
    ),
    # asymmetric prefix filter is lossless too — the containment
    # anchor's SQL IS this twin's oracle (VERDICT r8 Next #2)
    "dedup_containment_prefix": (
        dedup_containment_prefix,
        DEDUP_CONTAINMENT_SQL.format(postings=_DUCK_POSTINGS),
    ),
    # sketch internals have no ANSI oracle (ORACLE_EXEMPT in the
    # registry contract test); test_hyperanf bounds N(r) vs exact BFS
    "neardup_neighborhood_function": (neardup_neighborhood_function, None),
    "dedup_ngram_jaccard_capped": (
        dedup_ngram_jaccard_capped,
        DEDUP_NGRAM_CAPPED_SQL.format(postings=_DUCK_POSTINGS),
    ),
    "dedup_containment_capped": (
        dedup_containment_capped,
        DEDUP_CONTAINMENT_CAPPED_SQL.format(postings=_DUCK_POSTINGS),
    ),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _duck_minhash_sql()),
    "dedup_incremental_lsh": (dedup_incremental_lsh, _duck_incremental_lsh_sql()),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_cluster_sizes": (dedup_cluster_sizes, _dedup_cluster_sizes_sql()),
    "dedup_clusters": (
        dedup_clusters,
        DEDUP_CLUSTERS_SQL_TEMPLATE.format(
            postings=_DUCK_POSTINGS, threshold=JACCARD_THRESHOLD
        ),
    ),
    "dedup_keep_canonical": (
        dedup_keep_canonical,
        DEDUP_KEEP_CANONICAL_SQL_TEMPLATE.format(
            postings=_DUCK_POSTINGS, threshold=JACCARD_THRESHOLD
        ),
    ),
    "kcore_decomposition": (kcore_decomposition, _kcore_sql()),
    "clustering_coefficient": (
        clustering_coefficient,
        CLUSTERING_COEFFICIENT_SQL_TEMPLATE.format(
            postings=_DUCK_POSTINGS, threshold=JACCARD_THRESHOLD
        ),
    ),
}
