"""Text-analysis plans over the documents table (north-star operators:
token counting, quality scoring, language-ID, fingerprinting, n-gram
profiling — BASELINE.json; SURVEY.md §7.3 step 8).

All plans are pure column expressions — the scan reads only (doc_id,
text[, lang/source]) thanks to column pruning, and token/char work
stays in codegen. At 100 TB the only shuffles here are the final
small-key groupBys; per-document work is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    LANG_MARKERS,
    fingerprint,
    quality_score,
    stopword_count,
    token_count,
    tokens,
)
from ..sources.tables import load_table


# --- token statistics (token counting; F7-style split) ----------------------

def token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token statistics: count, distinct count, mean token
    length. One pass, no shuffle (per-row arrays only)."""
    docs = load_table(spark, "documents", sf)
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / F.size(toks),
            6,
        ).alias("avg_token_len"),
    )


TOKEN_STATS_SQL = """
SELECT doc_id, source,
       len(string_split(trim(text), ' ')) AS n_tokens,
       len(list_distinct(string_split(trim(text), ' '))) AS n_distinct_tokens,
       round(
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(trim(text), ' '),
                               t -> CAST(length(t) AS BIGINT))),
              (a, b) -> a + b) AS DOUBLE)
         / len(string_split(trim(text), ' ')), 6) AS avg_token_len
FROM documents
"""


# --- quality scoring ---------------------------------------------------------

def doc_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Pretraining-style quality filter: length score × (1 − stopword
    ratio), with a keep flag at 0.5."""
    docs = load_table(spark, "documents", sf)
    q = quality_score(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        stopword_count(F.col("text")).alias("n_stopwords"),
        q.alias("quality"),
        (q >= 0.5).alias("keep"),
    )


DOC_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(trim(text), ' ')) AS n_tokens,
         len(list_filter(string_split(trim(text), ' '),
                         x -> x = 'the' OR x = 'a')) AS n_stopwords
  FROM documents
), s AS (
  SELECT *,
         round(least(n_tokens / 50.0, 1.0)
               * (1.0 - CAST(n_stopwords AS DOUBLE) / n_tokens), 6) AS quality
  FROM t
)
SELECT doc_id, lang, n_tokens, n_stopwords, quality, quality >= 0.5 AS keep
FROM s
"""


# --- language identification (stopword-profile heuristic) -------------------

def lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-token language scoring: hits per language profile, argmax
    with alphabetical tiebreak. The n-gram-profile shape of real
    lang-ID, deterministic for the oracle."""
    docs = load_table(spark, "documents", sf)
    toks = tokens(F.col("text"))
    def _hits(markers: tuple[str, ...]):
        return lambda t: t.isin(*markers)

    scores = [
        F.size(F.filter(toks, _hits(markers))).alias(f"s_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select("doc_id", "lang", *scores)
    langs = sorted(LANG_MARKERS)
    pairs = F.array(
        *[F.struct(F.col(f"s_{la}").alias("score"), F.lit(la).alias("la")) for la in langs]
    )
    # max by (score, then alphabetically-first lang): sort by score asc,
    # lang desc, take last == sort desc-score/asc-lang, take first
    best = F.expr(
        "element_at(array_sort({}, (l, r) -> CASE WHEN l.score > r.score THEN -1 "
        "WHEN l.score < r.score THEN 1 WHEN l.la < r.la THEN -1 "
        "WHEN l.la > r.la THEN 1 ELSE 0 END), 1)".format(
            "array("
            + ", ".join(f"struct(s_{la} AS score, '{la}' AS la)" for la in langs)
            + ")"
        )
    )
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best["la"].alias("detected_lang"),
        best["score"].cast("long").alias("marker_hits"),
    )


_LANG_SCORE_EXPRS = ",\n         ".join(
    "len(list_filter(string_split(trim(text), ' '), t -> t IN ({}))) AS s_{}".format(
        ", ".join(f"'{m}'" for m in markers), lang
    )
    for lang, markers in sorted(LANG_MARKERS.items())
)
_LANG_STRUCTS = ", ".join(
    f"{{'score': s_{la}, 'la': '{la}'}}" for la in sorted(LANG_MARKERS)
)

LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_LANG_SCORE_EXPRS}
  FROM documents
), ranked AS (
  SELECT doc_id, lang,
         unnest([{_LANG_STRUCTS}], recursive := true)
  FROM scored
), best AS (
  SELECT doc_id, lang, la, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, la ASC) AS rn
  FROM ranked
)
SELECT doc_id, lang AS labeled_lang, la AS detected_lang,
       CAST(score AS BIGINT) AS marker_hits
FROM best WHERE rn = 1
"""


# --- document fingerprinting -------------------------------------------------

def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Portable polynomial rolling hash per document + duplicate-count
    by fingerprint (hash collisions ≙ exact dup candidates)."""
    docs = load_table(spark, "documents", sf)
    fp = fingerprint(F.col("text"))
    with_fp = docs.select("doc_id", fp.alias("fp"), "n_chars")
    counts = with_fp.groupBy("fp").agg(F.count("*").alias("n_same_fp"))
    return with_fp.join(counts, "fp").select("doc_id", "fp", "n_chars", "n_same_fp")


DOC_FINGERPRINT_SQL = f"""
WITH fps AS (
  SELECT doc_id, n_chars,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD}) AS fp
  FROM documents
)
SELECT doc_id, fp, n_chars,
       count(*) OVER (PARTITION BY fp) AS n_same_fp
FROM fps
"""


# --- character trigram profile (n-gram analysis) -----------------------------

def trigram_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Global top-20 character trigrams. explode(sequence) generates
    per-offset substrings JVM-side; the groupBy key (trigram) is
    high-cardinality and shuffles evenly; top-k is sort+limit with a
    deterministic tiebreak."""
    docs = load_table(spark, "documents", sf)
    tri = docs.select(
        F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"), "text"
    ).select(F.expr("substring(text, i, 3)").alias("trigram"))
    return (
        tri.groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(20)
    )


TRIGRAM_PROFILE_SQL = """
WITH tri AS (
  SELECT unnest(list_transform(generate_series(1, length(text) - 2),
                               i -> substr(text, CAST(i AS INT), 3))) AS trigram
  FROM documents
)
SELECT trigram, count(*) AS n
FROM tri
GROUP BY 1
ORDER BY n DESC, trigram ASC
LIMIT 20
"""


# --- TF-IDF (corpus-statistics aggregate) ------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    tf = term count in doc; idf = ln(N / df) over the corpus. Two
    shuffles total (doc-term counts, df counts) + a broadcast of the
    tiny df dimension; ranking is one window. The corpus-wide statistic
    (df) is exactly the shape that motivates map-side partial
    aggregation at 100 TB."""
    docs = load_table(spark, "documents", sf)
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    n_docs = docs.count()  # scalar: corpus size (driver-side by design)
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf", "rank")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# --- corpus-LM cross-entropy (CCNet/KenLM-style quality filter) --------------

def lm_cross_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document cross-entropy under a corpus unigram LM — the
    relational skeleton of the CCNet/RefinedWeb perplexity quality
    filter (there: a KenLM n-gram model; here: the maximum-likelihood
    unigram model of the corpus itself, so the whole filter stays
    oracle-checkable). Documents whose token distribution diverges
    from the corpus (boilerplate, noise, wrong language) score high
    and are the head of the filter's rejection list.

    Spark shape for 100 TB: the LM is a token→count aggregate —
    Zipf-bounded vocabulary, megabytes even for web-scale corpora —
    so it broadcasts; per-document scoring is then a broadcast join +
    one groupBy(doc_id). Two shuffles total (LM build, per-doc agg),
    both map-side combined. The corpus total is a driver scalar
    (constant-folding pattern, same as tfidf's n_docs).
    """
    docs = load_table(spark, "documents", sf)
    return _doc_cross_entropy(docs).select(
        "doc_id", "n_tok", F.col("ce").alias("cross_entropy")
    )


def _doc_cross_entropy(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tok, ce): per-document unigram-LM cross-entropy —
    the shared scorer behind lm_cross_entropy and ccnet_ppl_buckets
    (one implementation, so a smoothing/rounding change cannot
    diverge between them)."""
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    lm = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    # corpus token total as a broadcast 1-row frame — fully lazy (no
    # driver collect at plan-construction time, no crash on an empty
    # corpus), constant-folded into every executor like tfidf's n_docs
    total = lm.agg(F.sum("tf").cast("double").alias("n_total"))
    return (
        toks.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.round(
                F.avg(-F.log(F.col("tf") / F.col("n_total"))), 6
            ).alias("ce"),
        )
    )


# shared CTE chain for the unigram-LM scorer (SQL twin of
# _doc_cross_entropy) — ends with ce(doc_id, n_tok, ce)
_LM_CE_CTES = """toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
), lm AS (
  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(sum(tf) AS DOUBLE) AS n FROM lm
), ce AS (
  SELECT doc_id, count(*) AS n_tok,
         round(avg(-ln(tf / (SELECT n FROM tot))), 6) AS ce
  FROM toks JOIN lm USING (tok)
  GROUP BY doc_id
)"""


LM_CROSS_ENTROPY_SQL = f"""
WITH {_LM_CE_CTES}
SELECT doc_id, n_tok, ce AS cross_entropy FROM ce
"""


# --- BPE-style pretokenizer (GPT-2 pattern, RE2-safe subset) -----------------

# GPT-2's pretokenizer splits on letter-runs / digit-runs / punctuation
# runs, each optionally absorbing one leading space. The upstream
# pattern's \s+(?!\S) lookahead is dropped (DuckDB RE2 has no
# lookahead — see memory cross-engine-parity-pitfalls); whitespace
# runs are matched and filtered out post-hoc on both engines instead.
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+"


def bpe_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document BPE-pretokenizer statistics: token count (the
    'how many LLM tokens is this corpus' estimator), word/number/other
    split, and mean token length. Pure codegen column expressions —
    regexp_extract_all + size; no shuffle, no UDF."""
    docs = load_table(spark, "documents", sf)
    toks = F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
    trimmed = F.transform(toks, lambda t: F.trim(t))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.filter(trimmed, lambda t: t.rlike("^[A-Za-z]+$"))).alias(
            "n_word_tokens"
        ),
        F.size(F.filter(trimmed, lambda t: t.rlike("^[0-9]+$"))).alias(
            "n_number_tokens"
        ),
        F.round(
            F.aggregate(
                trimmed, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / F.size(toks),
            6,
        ).alias("avg_bpe_len"),
    )


BPE_TOKEN_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, '{BPE_PATTERN}'),
                        x -> trim(x)) AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_bpe_tokens,
       len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+')))
         AS n_word_tokens,
       len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+')))
         AS n_number_tokens,
       round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(toks, x -> CAST(length(x) AS BIGINT))),
              (a, b) -> a + b) AS DOUBLE) / len(toks), 6) AS avg_bpe_len
FROM t
"""


# --- vocabulary coverage (Zipf audit) ---------------------------------------

VOCAB_TOP = 30


def vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus Zipf audit: the VOCAB_TOP most frequent tokens with their
    cumulative share of all corpus tokens — the tokenizer-vocabulary /
    coverage curve every LM data card publishes. One explode+groupBy
    shuffle builds the frequency table (vocab-cardinality, tiny vs the
    corpus); the top-VOCAB_TOP cut then happens FIRST via
    ``orderBy().limit()`` — Spark plans that as TakeOrderedAndProject,
    a distributed partial top-k (each partition keeps its local top
    VOCAB_TOP, the driver merges) — so the rank + cumulative-share
    window only ever sees VOCAB_TOP rows, never the full token
    vocabulary (100M+ tokens on a web corpus). cum_share at rank r
    depends only on the top-r rows, all of which survive the cut, so
    the slice-then-rank plan is value-identical to ranking the full
    frequency table (same bm25_topk pattern, indexing.py)."""
    docs = load_table(spark, "documents", sf)
    from pyspark.sql import Window

    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    # lazy 1-row total (broadcast cross join) — no driver collect, the
    # same shape lm_cross_entropy uses for its corpus total; computed
    # over the FULL frequency table, before the top-k cut
    total = freq.agg(F.sum("freq").cast("double").alias("_total"))
    top = freq.orderBy(F.col("freq").desc(), F.col("tok").asc()).limit(
        VOCAB_TOP
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "tok",
            "freq",
            F.round(
                F.sum("freq")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double")
                / F.col("_total"),
                6,
            ).alias("cum_share"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH freq AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents)
  GROUP BY tok
), total AS (SELECT sum(freq) AS t FROM freq)
SELECT * FROM (
  SELECT row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank,
         tok, freq,
         round(CAST(sum(freq) OVER (ORDER BY freq DESC, tok ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / (SELECT t FROM total), 6) AS cum_share
  FROM freq
) WHERE rank <= {VOCAB_TOP}
"""


# --- collocation mining (bigram lift) ----------------------------------------

BIGRAM_MIN_COUNT = 5
BIGRAM_TOP = 20


def bigram_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Top collocations by lift — PMI's ratio form, deliberately
    WITHOUT the log so the score needs no cross-engine libm parity:
    lift(a,b) = P(ab) / (P(a)·P(b)), every factor cast to double
    BEFORE multiplication (an integer product would hit DuckDB's
    HUGEINT promotion where Spark wraps int64 — the exact class of
    type-divergence the oracle harness exists to catch). Corpus totals
    ride as lazy 1-row broadcasts; candidate bigrams below
    BIGRAM_MIN_COUNT are dropped before ranking for determinism and
    noise control.

    Scale shape: the token array is split ONCE per document (projected
    ``t`` column feeding both the pair builder and the length term),
    and the top-BIGRAM_TOP cut happens via ``orderBy().limit()`` —
    TakeOrderedAndProject, distributed partial top-k — BEFORE the rank
    window, so no vocabulary²-shaped frame ever funnels through a
    single partition (bm25_topk pattern, indexing.py)."""
    docs = load_table(spark, "documents", sf)
    from pyspark.sql import Window

    tokked = docs.select(tokens(F.col("text")).alias("t"))
    pair_structs = F.expr(
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(t[i - 1] AS a, t[i] AS b))"
    )
    bigrams = (
        tokked.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BIGRAM_MIN_COUNT)
    )
    uni = (
        tokked.select(F.explode(F.col("t")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
    )
    totals = uni.agg(
        F.sum("n_tok").cast("double").alias("_n"),
    ).crossJoin(
        tokked.select(
            (F.size(F.col("t")) - 1).alias("nb")
        ).agg(F.sum("nb").cast("double").alias("_b"))
    )
    na = uni.select(F.col("tok").alias("a"), F.col("n_tok").alias("n_a"))
    nb = uni.select(F.col("tok").alias("b"), F.col("n_tok").alias("n_b"))
    w = Window.orderBy(F.col("lift").desc(), F.col("a").asc(), F.col("b").asc())
    scored = (
        bigrams.join(na, "a")
        .join(nb, "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                (
                    F.col("n_ab").cast("double")
                    * F.col("_n")
                    * F.col("_n")
                )
                / (
                    F.col("_b")
                    * F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                ),
                6,
            ).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.col("lift").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(BIGRAM_TOP)
    return top.withColumn("rank", F.row_number().over(w))


BIGRAM_LIFT_SQL = f"""
WITH toks AS (
  SELECT string_split(trim(text), ' ') AS t FROM documents
), bigrams AS (
  SELECT p.a, p.b, count(*) AS n_ab
  FROM (
    SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS z FROM toks
  ), LATERAL (SELECT z[1] AS a, z[2] AS b) p
  GROUP BY p.a, p.b
  HAVING count(*) >= {BIGRAM_MIN_COUNT}
), uni AS (
  SELECT tok, count(*) AS n_tok
  FROM (SELECT unnest(t) AS tok FROM toks)
  GROUP BY tok
), totals AS (
  SELECT (SELECT CAST(sum(n_tok) AS DOUBLE) FROM uni) AS _n,
         (SELECT CAST(sum(len(t) - 1) AS DOUBLE) FROM toks) AS _b
)
SELECT * FROM (
  SELECT g.a, g.b, g.n_ab,
         round(CAST(g.n_ab AS DOUBLE) * t._n * t._n
               / (t._b * CAST(ua.n_tok AS DOUBLE) * CAST(ub.n_tok AS DOUBLE)),
               6) AS lift,
         row_number() OVER (ORDER BY
           round(CAST(g.n_ab AS DOUBLE) * t._n * t._n
                 / (t._b * CAST(ua.n_tok AS DOUBLE) * CAST(ub.n_tok AS DOUBLE)),
                 6) DESC, g.a ASC, g.b ASC) AS rank
  FROM bigrams g
  JOIN uni ua ON ua.tok = g.a
  JOIN uni ub ON ub.tok = g.b
  CROSS JOIN totals t
) WHERE rank <= {BIGRAM_TOP}
"""


# --- CCNet-style perplexity buckets ------------------------------------------

def ccnet_ppl_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """The CCNet head/middle/tail partition: per language, documents
    ranked by LM cross-entropy (reusing lm_cross_entropy's corpus
    unigram model) and cut into terciles — the bucket each doc lands
    in decides whether it trains, gets resampled, or is dropped.
    Output per (lang, bucket): docs, tokens, mean cross-entropy.

    Cross-entropy is rounded BEFORE ntile on both engines and the
    tiebreak is doc_id, so the bucket boundary cannot flip on a 1-ulp
    libm difference. The ntile window partitions by lang over
    doc-cardinality rows — the same user-keyed window posture as
    quantile_normalize (per-source percent_rank)."""
    docs = load_table(spark, "documents", sf)
    ce = _doc_cross_entropy(docs)
    from pyspark.sql import Window

    scored = ce.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("ce").asc(), F.col("doc_id").asc()
    )
    bucket = F.ntile(3).over(w)
    name = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.select("lang", "n_tok", "ce", name.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.round(F.avg("ce"), 6).alias("mean_ce"),
        )
    )


CCNET_PPL_BUCKETS_SQL = f"""
WITH {_LM_CE_CTES}, scored AS (
  SELECT d.lang, c.n_tok, c.ce,
         CASE ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY c.ce ASC, c.doc_id ASC)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
  FROM ce c JOIN documents d USING (doc_id)
)
SELECT lang, bucket, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       round(avg(ce), 6) AS mean_ce
FROM scored
GROUP BY lang, bucket
"""


# --- canonical text normalization --------------------------------------------

def text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """The normalization pass that PRECEDES dedup in a corpus pipeline
    (two byte-different renderings of the same content must
    fingerprint identically): lowercase, strip non-alphanumeric
    punctuation to spaces, collapse whitespace runs, trim. Emits the
    canonical text, its fingerprint, and whether normalization changed
    anything — pure codegen (regexp_replace/lower), zero shuffle, and
    the patterns are RE2-safe so the oracle runs them verbatim.
    ASCII-scoped by design (the driver corpus is ASCII); Unicode
    normalization (NFC/casefold) is a mapInPandas seam away and
    deliberately not faked with engine-dependent collation."""
    docs = load_table(spark, "documents", sf)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.sha2(norm, 256).alias("norm_fp"),
        (norm != F.col("text")).alias("changed"),
        (F.length(F.col("text")) - F.length(norm)).alias("bytes_removed"),
    )


TEXT_NORMALIZE_SQL = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text,
       sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                  ' +', ' ', 'g'))) AS norm_fp,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) <> text AS changed,
       length(text)
         - length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                      ' +', ' ', 'g'))) AS bytes_removed
FROM documents
"""


# --- lexicon sentiment scoring ------------------------------------------------

# Valence lexicon over this corpus's vocabulary (SURVEY §7.3.8's
# sentiment-lexicon op: the OPERATOR — broadcast token→valence lookup,
# integer sums, sign buckets — is the deliverable; the lexicon is a
# pluggable constant. Real deployments swap in AFINN/VADER-style word
# lists; the synthetic corpus speaks database-performance vocabulary,
# so the lexicon scores that).
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2,
    "slow": -2,
    "big": 1,
    "small": -1,
}


def _valence_case(tok_sql: str) -> str:
    whens = " ".join(
        f"WHEN '{w}' THEN {v}" for w, v in SENTIMENT_LEXICON.items()
    )
    return f"CASE {tok_sql} {whens} ELSE 0 END"


def lexicon_sentiment(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document lexicon sentiment: token valences summed in pure
    int64 with the hit count and a sign-bucket label. The lexicon is a
    tiny literal CASE folded into whole-stage codegen — ZERO shuffle,
    zero join, one corpus scan (the correct shape at any scale: a
    lexicon is bounded vocabulary, never a join side). Ties/neutrality:
    label is the exact integer sign of the sum."""
    docs = load_table(spark, "documents", sf)

    def val(t):
        expr = F.lit(0)
        for w, v in SENTIMENT_LEXICON.items():
            expr = F.when(t == w, v).otherwise(expr)
        return expr

    toks = tokens(F.col("text"))
    valence = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + val(t)
    )
    hits = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.when(t.isin(*SENTIMENT_LEXICON), 1).otherwise(0),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        hits.alias("n_hits"),
        valence.alias("valence"),
        F.when(valence > 0, F.lit("positive"))
        .when(valence < 0, F.lit("negative"))
        .otherwise(F.lit("neutral"))
        .alias("label"),
    )


LEXICON_SENTIMENT_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents
)
SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(list_reduce(list_prepend(0, list_transform(ts,
              t -> CASE WHEN {" OR ".join(
                  f"t = '{w}'" for w in SENTIMENT_LEXICON)}
                   THEN 1 ELSE 0 END)),
            (a, b) -> a + b) AS BIGINT) AS n_hits,
       CAST(list_reduce(list_prepend(0, list_transform(ts,
              t -> {_valence_case('t')})),
            (a, b) -> a + b) AS BIGINT) AS valence,
       CASE WHEN list_reduce(list_prepend(0, list_transform(ts,
                   t -> {_valence_case('t')})), (a, b) -> a + b) > 0
            THEN 'positive'
            WHEN list_reduce(list_prepend(0, list_transform(ts,
                   t -> {_valence_case('t')})), (a, b) -> a + b) < 0
            THEN 'negative' ELSE 'neutral' END AS label
FROM toks
"""


# --- HTML extraction quality (crawl-ingestion rules, hash-verified) ---------

def html_extract_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-verified twin of the crawl text-extraction stage
    (functions/html.py): both engines wrap each document's text in the
    SAME deterministic markup — title carrying an entity, script/
    style/noscript blocks, an HTML comment hiding an anchor, and a
    doc_id-length visible anchor — then run the extraction rules and
    emit title, a text prefix, and exact character-mass columns. This
    promotes the extraction rules from unit-asserted
    (test_html_extract) to oracle-verified: tag stripping, non-content
    removal, entity-decode order, whitespace collapse, anchor
    link-mass — all inside the value hash. The WARC container parse
    itself stays pytest-gated (binary fixtures can't cross the SQL
    oracle boundary).

    Scale shape: one corpus scan, pure codegen regexp/concat columns —
    zero shuffles, zero Python; at 100 TB this runs at scan speed like
    the rest of text.py. Link density ships as exact integer parts-
    per-million (BIGINT floor-div, the event_cube midpoint lesson) —
    no float rounding anywhere in the output.
    """
    from ..functions.html import (
        _ANCHOR,
        _strip_noncontent,
        html_title,
        html_to_text,
    )

    docs = load_table(spark, "documents", sf)
    did = F.col("doc_id").cast("string")
    markup = F.concat(
        F.lit("<html><head><title> "),
        F.col("source"),
        F.lit(" &amp; doc "),
        did,
        F.lit(" </title><style>p { color: red }</style>"),
        F.lit("<script>var s = <a href=/x>never text</a>;</script>"),
        F.lit('</head><body><!-- <a href="/hidden">hidden</a> --><h1>'),
        F.expr("substring(text, 1, 20)"),
        F.lit("</h1><p>"),
        F.expr("substring(text, 21, 40)"),
        F.lit(' <a href="/d'),
        did,
        F.lit('">'),
        F.expr("substring(text, 61, 1 + doc_id % 29)"),
        F.lit("</a> "),
        F.expr("substring(text, 62 + doc_id % 29)"),
        F.lit("&nbsp;&lt;eof&gt;</p><noscript>js off</noscript>"),
        F.lit("</body></html>"),
    )
    page = docs.select("doc_id", markup.alias("html"))
    text = html_to_text(F.col("html"))
    anchors = F.regexp_extract_all(
        _strip_noncontent(F.col("html")), F.lit(_ANCHOR), F.lit(1)
    )
    anchor_chars = F.aggregate(
        F.transform(anchors, lambda a: F.length(html_to_text(a))),
        F.lit(0).cast("long"),
        lambda acc, n: acc + n,
    )
    total = F.length(text).cast("long")
    return page.select(
        "doc_id",
        html_title(F.col("html")).alias("title"),
        F.substring(text, 1, 60).alias("text_head"),
        total.alias("n_text_chars"),
        anchor_chars.alias("n_anchor_chars"),
        F.when(
            total > 0, (anchor_chars * 1_000_000).cast("long") / total
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("link_density_ppm"),
    )


def _duck_html_sql() -> str:
    """DuckDB oracle generated from the SAME pattern/entity constants
    as the Spark plan (functions/html.py) — the rules cannot drift."""
    from ..functions.html import _ANCHOR, _BLOCKS, _COMMENT, _ENTITIES, _TAG

    def strip_noncontent(e: str) -> str:
        out = f"regexp_replace({e}, '{_COMMENT}', ' ', 'g')"
        for pat in _BLOCKS:
            out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
        return out

    def to_text(e: str) -> str:
        out = f"regexp_replace({strip_noncontent(e)}, '{_TAG}', ' ', 'g')"
        for src, dst in _ENTITIES:
            out = (
                f"replace({out}, '{src.replace(chr(39), chr(39) * 2)}', "
                f"'{dst.replace(chr(39), chr(39) * 2)}')"
            )
        return rf"trim(regexp_replace({out}, '\s+', ' ', 'g'))"

    def decode(e: str) -> str:
        out = e
        for src, dst in _ENTITIES:
            out = (
                f"replace({out}, '{src.replace(chr(39), chr(39) * 2)}', "
                f"'{dst.replace(chr(39), chr(39) * 2)}')"
            )
        return out

    title_raw = (
        r"regexp_extract(html, '(?is)<title\b[^>]*>(.*?)</title\s*>', 1)"
    )
    return f"""
WITH page AS (
  SELECT doc_id,
    '<html><head><title> ' || source || ' &amp; doc '
    || CAST(doc_id AS VARCHAR)
    || ' </title><style>p {{ color: red }}</style>'
    || '<script>var s = <a href=/x>never text</a>;</script>'
    || '</head><body><!-- <a href="/hidden">hidden</a> --><h1>'
    || substring(text, 1, 20) || '</h1><p>' || substring(text, 21, 40)
    || ' <a href="/d' || CAST(doc_id AS VARCHAR) || '">'
    || substring(text, 61, CAST(1 + doc_id % 29 AS INT)) || '</a> '
    || substring(text, CAST(62 + doc_id % 29 AS INT))
    || '&nbsp;&lt;eof&gt;</p><noscript>js off</noscript>'
    || '</body></html>' AS html
  FROM documents
), extracted AS (
  SELECT doc_id,
    trim(regexp_replace({decode(title_raw)}, '\\s+', ' ', 'g')) AS title,
    {to_text('html')} AS text,
    list_transform(
      regexp_extract_all({strip_noncontent('html')}, '{_ANCHOR}', 1),
      a -> length({to_text('a')})
    ) AS anchor_lens
  FROM page
)
SELECT doc_id, title,
  substring(text, 1, 60) AS text_head,
  CAST(length(text) AS BIGINT) AS n_text_chars,
  CAST(list_reduce(list_prepend(0, anchor_lens), (a, b) -> a + b)
       AS BIGINT) AS n_anchor_chars,
  CASE WHEN length(text) > 0
       THEN CAST(list_reduce(list_prepend(0, anchor_lens),
                             (a, b) -> a + b) AS BIGINT)
            * 1000000 // length(text)
       ELSE 0 END AS link_density_ppm
FROM extracted
"""


# --- discounted bigram language-model training --------------------------------

KN_TOP_K = 5          # continuations kept per context
KN_DISCOUNT4 = 3      # absolute discount D = 3/4, carried as 4-scaled ints


def kn_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Train a Kneser-Ney-style discounted bigram LM over the corpus —
    the canonical MapReduce n-gram job (Brants et al., EMNLP 2007,
    trained exactly this shape at 2T tokens): count bigrams, discount,
    redistribute the held-out mass through the continuation
    distribution, emit the top-K continuations per context.

    ``p_KN(w2|w1) = max(c−D,0)/c(w1·) + λ(w1)·p_cont(w2)`` with
    D = 3/4, λ(w1) = D·N1+(w1·)/c(w1·), p_cont(w2) = N1+(·w2)/N1+(··).
    Carried 4-scaled so D is an integer; the two fractions combine over
    the common denominator ``4·c(w1·)·N1+(··)`` and divide ONCE into
    e9 fixed point — integer-exact on both engines, and the mass
    identity Σ_w2 p_KN = 1 holds exactly in the rationals (pinned by
    the test over the full continuation set).

    Scale: bigram counting is one corpus-cardinality shuffle keyed by
    (w1, w2), partial-aggregated map-side; everything downstream is
    keyed on the vocabulary (context totals, continuation counts) or
    vocab² at worst — the grid the LM itself is made of, not the
    corpus. The top-K per context is a bounded window over each
    context's continuations. e9-scaled products stay BIGINT-exact
    while ``4·c·N1+(··) < ~9e9`` — per-shard LMs + a merge pass (the
    Brants architecture) beyond that.
    """
    from ..functions.text import tokens

    docs = load_table(spark, "documents", sf)
    # size >= 2 guard: Spark's sequence(1, 0) DESCENDS instead of being
    # empty, which would index element_at(t, 0) and error on 1-token docs
    toks = docs.select(tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "element_at(t, i + 1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    big = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    ctx = Window.partitionBy("w1")
    cont = Window.partitionBy("w2")
    scored = (
        big.withColumn("c_ctx", F.sum("c").over(ctx))
        .withColumn("n1p_fw", F.count("*").over(ctx))
        .withColumn("n1p_bw", F.count("*").over(cont))
    )
    # N1+(··) = total distinct bigram types: a 1-row dim, broadcast back
    npp = big.agg(F.count("*").alias("npp"))
    ranked = (
        scored.crossJoin(F.broadcast(npp))
        .withColumn(
            "p_kn_e9",
            F.expr(
                f"(1000000000 * ((4 * c - {KN_DISCOUNT4}) * npp"
                f" + {KN_DISCOUNT4} * n1p_fw * n1p_bw))"
                f" DIV (4 * c_ctx * npp)"
            ),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("w1").orderBy(
                    F.col("p_kn_e9").desc(), F.col("w2").asc()
                )
            ),
        )
        .filter(F.col("rank") <= KN_TOP_K)
    )
    return ranked.select(
        "w1", "w2", "c", "c_ctx", "n1p_fw", "n1p_bw", "p_kn_e9", "rank"
    )


KN_BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT string_split(trim(text), ' ') AS t FROM documents
), bigrams AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
), big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bigrams GROUP BY 1, 2
), scored AS (
  SELECT w1, w2, c,
         CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS c_ctx,
         CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1p_fw,
         CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS n1p_bw
  FROM big
), npp AS (
  SELECT CAST(count(*) AS BIGINT) AS npp FROM big
), ranked AS (
  SELECT s.*,
         (1000000000 * ((4 * s.c - {KN_DISCOUNT4}) * n.npp
            + {KN_DISCOUNT4} * s.n1p_fw * s.n1p_bw))
           // (4 * s.c_ctx * n.npp) AS p_kn_e9,
         row_number() OVER (PARTITION BY s.w1
                            ORDER BY (1000000000 * ((4 * s.c - {KN_DISCOUNT4}) * n.npp
                                        + {KN_DISCOUNT4} * s.n1p_fw * s.n1p_bw))
                                       // (4 * s.c_ctx * n.npp) DESC,
                                     s.w2 ASC) AS rank
  FROM scored s CROSS JOIN npp n
)
SELECT w1, w2, c, c_ctx, n1p_fw, n1p_bw, p_kn_e9, rank
FROM ranked WHERE rank <= {KN_TOP_K}
"""


def js_divergence_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Per source: Jensen-Shannon divergence (nats) between this
    source's unigram token distribution and all OTHER sources' — the
    ``ks_score_separation`` this-vs-rest convention applied to corpus
    mixture monitoring: a source whose JSD drifts up is pulling the
    training mixture (template flood, scraper breakage, language
    shift). Symmetric and bounded (≤ ln 2), unlike raw KL which is
    infinite on any source-exclusive token.

    Sparse-exact: only (source, term) rows that EXIST are joined; the
    mass of rest-only tokens enters through the closed form
    ``½·ln2·(1 − Σ_present q)`` (for a token absent from the source,
    p = 0 and the JSD integrand collapses to ½·q·ln 2), and
    source-exclusive tokens (q = 0) contribute ½·p·ln 2 via the same
    guard. Floats appear only in the final ln terms over exact integer
    count ratios, summed per source and rounded at 6 dp (the
    ln-then-round discipline, margin-audited).

    Scale shape: one corpus shuffle onto the (source, term) grid
    (map-side combined, vocabulary-bounded); the global term histogram
    joins back on term (vocab-keyed, even); source totals and the
    1-row grand total are broadcast. Output is one row per source.
    """
    docs = load_table(spark, "documents", sf)
    terms = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    st = terms.groupBy("source", "term").agg(F.count("*").alias("c"))
    tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    gterm = st.groupBy("term").agg(F.sum("c").alias("g"))
    grand = tot.agg(F.sum("n_s").alias("n_all"))  # 1-row broadcast
    p = F.col("c") / F.col("n_s")
    q = (F.col("g") - F.col("c")) / (F.col("n_all") - F.col("n_s"))
    m = (p + q) / F.lit(2.0)
    contrib = F.lit(0.5) * (
        p * F.log(p / m)
        + F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    per_source = (
        st.join(gterm, "term")
        .join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(grand))
        .filter(F.col("n_all") > F.col("n_s"))  # degenerate single-source
        .groupBy("source", "n_s")
        .agg(
            F.sum(contrib).alias("present_jsd"),
            F.sum(q).alias("q_present"),
        )
    )
    ln2 = 0.6931471805599453
    return per_source.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        F.round(
            F.col("present_jsd")
            + F.lit(0.5 * ln2) * (F.lit(1.0) - F.col("q_present")),
            6,
        ).alias("jsd"),
    )


JS_DIVERGENCE_SOURCES_SQL = """
WITH terms AS (
  SELECT source, unnest(string_split(trim(text), ' ')) AS term
  FROM documents
), st AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM terms GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY 1
), gterm AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS g FROM st GROUP BY 1
), grand AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n_all FROM tot
), scored AS (
  SELECT s.source, t.n_s,
         s.c / CAST(t.n_s AS DOUBLE) AS p,
         (g.g - s.c) / CAST(gr.n_all - t.n_s AS DOUBLE) AS q
  FROM st s
  JOIN gterm g USING (term)
  JOIN tot t USING (source)
  CROSS JOIN grand gr
  WHERE gr.n_all > t.n_s
), agg AS (
  SELECT source, n_s,
         sum(0.5 * (p * ln(p / ((p + q) / 2))
                    + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2))
                           ELSE 0.0 END)) AS present_jsd,
         sum(q) AS q_present
  FROM scored GROUP BY 1, 2
)
SELECT source, n_s AS n_tokens,
       round(present_jsd + 0.5 * 0.6931471805599453 * (1.0 - q_present), 6)
         AS jsd
FROM agg
"""


ZIPF_TOP_R = 500  # fit over each language's top-R tokens


def zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language Zipf's-law fit: OLS of ln(frequency) on ln(rank)
    over the language's top-{R} tokens — slope ≈ −1 is the classic
    natural-language signature; a flat slope flags template/boilerplate
    corpora and a cliff flags spam keyword stuffing. The standard
    corpus-health diagnostic next to ``vocab_coverage`` (type growth)
    and ``ccnet_ppl_buckets`` (LM fit).

    Determinism: rank ties break on the token string, the OLS moments
    are explicit sums (no engine-specific regr_* aggregate), and every
    output rounds at 6 dp (r2 at 5 — the margin audit found its 6-dp
    value near a rounding midpoint at sf0.01) — the
    ``tfidf_top_terms``/``lm_cross_entropy`` ln-then-round discipline. Degenerate flat
    tails (zero frequency variance) yield NULL r2 on both engines via
    an explicit guard rather than a division artifact.

    Scale shape: one corpus shuffle onto the (lang, term) frequency
    grid (map-side combined, vocabulary-bounded); the per-lang top-R
    window sorts vocabulary rows, not corpus rows — at 100 TB vocab
    scale swap the global window for per-partition partial top-R then
    merge (the ``knn_batch`` discipline); the final fit reduces ≤ R
    rows per language.
    """
    docs = load_table(spark, "documents", sf)
    terms = docs.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
    freq = terms.groupBy("lang", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    xy = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_TOP_R)
        .select(
            "lang",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    return _loglog_ols(xy, "n_terms")


def _loglog_ols(xy: DataFrame, n_alias: str) -> DataFrame:
    """OLS fit per lang over (lang, x, y) rows — slope/intercept at
    6 dp, r2 at 5 (the zipf_fit margin-audit clearances), NULL r2 on
    zero y-variance via explicit guard. Shared tail of zipf_fit and
    heaps_fit; the SQL twin is ``_loglog_ols_sql``."""
    agg = (
        xy.groupBy("lang")
        .agg(
            F.count("*").alias(n_alias),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .filter(F.col(n_alias) >= 3)
    )
    n = F.col(n_alias).cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return agg.select(
        "lang",
        n_alias,
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(F.when(vary > 0, cov * cov / (varx * vary)), 5).alias("r2"),
    )


def _loglog_ols_sql(xy_ctes: str, n_alias: str) -> str:
    """DuckDB twin of ``_loglog_ols``: ``xy_ctes`` must define a CTE
    chain ending in ``xy(lang, x, y)``."""
    return f"""
WITH {xy_ctes}, agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS {n_alias},
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy GROUP BY lang HAVING count(*) >= 3
)
SELECT lang, {n_alias},
       round(({n_alias} * sxy - sx * sy) / ({n_alias} * sxx - sx * sx), 6)
         AS slope,
       round((sy - (({n_alias} * sxy - sx * sy)
                    / ({n_alias} * sxx - sx * sx)) * sx) / {n_alias}, 6)
         AS intercept,
       round(CASE WHEN ({n_alias} * syy - sy * sy) > 0 THEN
         ({n_alias} * sxy - sx * sy) * ({n_alias} * sxy - sx * sy)
               / (({n_alias} * sxx - sx * sx) * ({n_alias} * syy - sy * sy))
       END, 5) AS r2
FROM agg
"""


ZIPF_FIT_SQL = _loglog_ols_sql(
    f"""terms AS (
  SELECT lang, unnest(string_split(trim(text), ' ')) AS term FROM documents
), freq AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS n FROM terms GROUP BY 1, 2
), ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n DESC, term ASC) AS rank
  FROM freq
), xy AS (
  SELECT lang, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
  FROM ranked WHERE rank <= {ZIPF_TOP_R}
)""",
    "n_terms",
)


HEAPS_WINDOW = (
    "OVER (PARTITION BY lang ORDER BY doc_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


def heaps_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language Heaps'-law fit: OLS of ln(vocabulary size) on
    ln(corpus tokens) over the doc_id-ordered corpus prefix curve —
    V(n) ≈ K·n^β with β ≈ 0.4–0.6 for natural language. The growth
    complement of ``zipf_fit`` (rank-frequency shape at a fixed corpus
    size): a β near 1 means the corpus keeps minting tokens
    (OCR noise, IDs, unsegmented text — tokenizer poison), β near 0
    means a closed template vocabulary.

    The prefix curve is deterministic: corpus order IS ascending
    doc_id (pinned spec). Each token's first occurrence is
    ``min(doc_id)``; per-doc new-token counts and token counts then
    cumulate over the doc spine in one window per language, giving
    exact (n_d, V_d) pairs for EVERY prefix. Rounding/guards are the
    ``zipf_fit`` discipline (shared ``_loglog_ols`` tail).

    Scale shape: two vocabulary-bounded aggregates (per-doc counts,
    per-token min-doc) + one doc-spine window per language — the
    window runs over corpus DOC count; at 100 TB sample the spine
    (every k-th doc) before the fit, which only thins the regression
    points. No corpus-row window or join anywhere.
    """
    docs = load_table(spark, "documents", sf)
    terms = docs.select(
        "lang", "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    per_doc = terms.groupBy("lang", "doc_id").agg(
        F.count("*").alias("n_tok")
    )
    first = terms.groupBy("lang", "term").agg(
        F.min("doc_id").alias("doc_id")
    )
    new_per_doc = first.groupBy("lang", "doc_id").agg(
        F.count("*").alias("n_new")
    )
    spine = per_doc.join(new_per_doc, ["lang", "doc_id"], "left").select(
        "lang",
        "doc_id",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    xy = spine.select(
        "lang",
        F.log(F.sum("n_tok").over(w).cast("double")).alias("x"),
        F.log(F.sum("n_new").over(w).cast("double")).alias("y"),
    )
    return _loglog_ols(xy, "n_docs")


HEAPS_FIT_SQL = _loglog_ols_sql(
    f"""terms AS (
  SELECT lang, doc_id, unnest(string_split(trim(text), ' ')) AS term
  FROM documents
), per_doc AS (
  SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS n_tok
  FROM terms GROUP BY 1, 2
), first_occ AS (
  SELECT lang, term, min(doc_id) AS doc_id FROM terms GROUP BY 1, 2
), new_per_doc AS (
  SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS n_new
  FROM first_occ GROUP BY 1, 2
), spine AS (
  SELECT p.lang, p.doc_id, p.n_tok, coalesce(n.n_new, 0) AS n_new
  FROM per_doc p LEFT JOIN new_per_doc n USING (lang, doc_id)
), xy AS (
  SELECT lang,
         ln(CAST(sum(n_tok) {HEAPS_WINDOW} AS DOUBLE)) AS x,
         ln(CAST(sum(n_new) {HEAPS_WINDOW} AS DOUBLE)) AS y
  FROM spine
)""",
    "n_docs",
)


TEXT_QUERIES = {
    "kn_bigram_lm": (kn_bigram_lm, KN_BIGRAM_LM_SQL),
    "html_extract_quality": (html_extract_quality, _duck_html_sql()),
    "text_normalize": (text_normalize, TEXT_NORMALIZE_SQL),
    "lexicon_sentiment": (lexicon_sentiment, LEXICON_SENTIMENT_SQL),
    "ccnet_ppl_buckets": (ccnet_ppl_buckets, CCNET_PPL_BUCKETS_SQL),
    "vocab_coverage": (vocab_coverage, VOCAB_COVERAGE_SQL),
    "bigram_lift": (bigram_lift, BIGRAM_LIFT_SQL),
    "bpe_token_stats": (bpe_token_stats, BPE_TOKEN_STATS_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_TOP_TERMS_SQL),
    "token_stats": (token_stats, TOKEN_STATS_SQL),
    "doc_quality": (doc_quality, DOC_QUALITY_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "trigram_profile": (trigram_profile, TRIGRAM_PROFILE_SQL),
    "lm_cross_entropy": (lm_cross_entropy, LM_CROSS_ENTROPY_SQL),
    "zipf_fit": (zipf_fit, ZIPF_FIT_SQL),
    "heaps_fit": (heaps_fit, HEAPS_FIT_SQL),
    "js_divergence_sources": (
        js_divergence_sources,
        JS_DIVERGENCE_SOURCES_SQL,
    ),
}
