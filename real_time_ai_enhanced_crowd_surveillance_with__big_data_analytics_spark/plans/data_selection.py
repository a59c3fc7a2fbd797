"""Training-data selection plans: published-method curation operators.

Two canonical LLM-corpus curation methods, Spark-first and fully
oracle-verified:

- ``dsir_select`` — Data Selection with Importance Resampling (Xie et
  al., 2023): rank raw documents by how much their hashed-feature
  distribution looks like a target stratum.  Features are token
  buckets under the repo's portable rolling hash; per-bucket log
  importance ratios are quantized ONCE to integer micro-nats (from
  identical integer counts on both engines), so per-document weights
  are exact int64 sums — the partition-order-proof design
  embedding_covariance settled in r6.
- ``c4_line_filter`` — the C4 cleaning rules (Raffel et al., 2020):
  terminal-punctuation line filter, minimum words per line, minimum
  retained lines per page, lorem-ipsum and curly-brace page drops.
  The documents table is punctuation-free synthetic text, so — the
  html_extract_quality pattern (VERDICT r6 #4) — both engines first
  assemble the SAME deterministic lines (token chunks, a per-doc line
  length, 1-in-3 lines left without terminal punctuation, lorem-ipsum
  and brace lines injected on doc_id residues), then apply the REAL
  rules; every rule sits inside the value hash.

Scale shape: dsir is the two-pass DSIR posture — one token scan for
the B-bucket corpus statistics (map-side combinable, B rows out), one
token scan joined against the broadcast B-row quantized-ratio table,
then a doc-keyed partial aggregate and a global top-k sort-limit.  At
100 TB nothing shuffles except (bucket) and (doc_id) keys and the
final k rows.  c4_line_filter is a pure per-row codegen pass — scan
speed, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    tokens,
)
from ..sources.tables import load_table

# --- DSIR ---------------------------------------------------------------------

DSIR_BUCKETS = 128
DSIR_TARGET_LANG = "en"
DSIR_TOP_K = 100

_DUCK_TOKEN_FP = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split(token, ''),"
    " c -> CAST(ascii(c) AS BIGINT))),"
    f" (acc, c) -> (acc * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD})"
)


def _token_bucket(token: Column) -> Column:
    codes = F.transform(F.split(token, ""), lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FINGERPRINT_BASE + c) % FINGERPRINT_MOD,
    )
    return (fp % DSIR_BUCKETS).alias("h")


def _q_from_buckets(buckets: DataFrame) -> DataFrame:
    """(h, q) from the (h, raw_h, tgt_h) bucket histogram — the shared
    Laplace-smoothed quantized-log-ratio math of the single-pass
    ranking below."""
    totals = buckets.agg(
        F.sum("raw_h").alias("raw_n"), F.sum("tgt_h").alias("tgt_n")
    )
    return buckets.crossJoin(F.broadcast(totals)).select(
        "h",
        F.round(
            F.lit(1_000_000.0)
            * F.log(
                (
                    (F.col("tgt_h") + 1) * (F.col("raw_n") + DSIR_BUCKETS)
                ).cast("double")
                / (
                    (F.col("raw_h") + 1) * (F.col("tgt_n") + DSIR_BUCKETS)
                ).cast("double")
            )
        )
        .cast("long")
        .alias("q"),
    )


def dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """Top-DSIR_TOP_K raw documents by hashed-unigram importance weight
    toward the DSIR_TARGET_LANG stratum.

    Pass 1 aggregates per-bucket target/raw token counts (B=128 rows).
    The Laplace-smoothed log ratio ln(((tgt+1)*(RAW+B)) /
    ((raw+1)*(TGT+B))) is quantized to micro-nats as the ONLY
    float step — both engines evaluate one ln of one exact-int ratio
    (products < 2^53), so the quantized table is identical and the
    per-document weight Sum(c_doc[h] * q[h]) is exact int64 in any
    partitioning (tests pin the quantization margin off the half-grid).
    Both passes read ONE materialized per-(doc, lang, bucket) count
    frame (≤ B rows per doc) built by a single token explode: the
    bucket histogram is its re-aggregation (Σc / Σc·[lang=target] per
    bucket — exactly the per-token counts), and the per-document
    weight is Σ c·q[h] — so the corpus is tokenized and hashed once,
    not once per pass.
    """
    docs = load_table(spark, "documents", sf)
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token")
    ).select("doc_id", "lang", _token_bucket(F.col("token")))
    per_doc = (
        tok.groupBy("doc_id", "lang", "h")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    buckets = per_doc.groupBy("h").agg(
        F.sum("c").alias("raw_h"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(0)
        ).alias("tgt_h"),
    )
    q = _q_from_buckets(buckets)
    return (
        per_doc.join(F.broadcast(q), "h")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("c") * F.col("q")).alias("weight_micro"))
        .orderBy(F.desc("weight_micro"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )


DSIR_SELECT_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS token
  FROM documents
), htok AS (
  SELECT doc_id, lang, ({_DUCK_TOKEN_FP}) % {DSIR_BUCKETS} AS h FROM tok
), buckets AS (
  SELECT h, COUNT(*) AS raw_h,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS tgt_h
  FROM htok GROUP BY h
), tot AS (
  SELECT SUM(raw_h) AS raw_n, SUM(tgt_h) AS tgt_n FROM buckets
), q AS (
  SELECT h,
         CAST(round(1000000.0 * ln(
           CAST((tgt_h + 1) * (raw_n + {DSIR_BUCKETS}) AS DOUBLE)
           / CAST((raw_h + 1) * (tgt_n + {DSIR_BUCKETS}) AS DOUBLE)))
              AS BIGINT) AS q
  FROM buckets, tot
)
SELECT htok.doc_id, htok.lang, CAST(SUM(q.q) AS BIGINT) AS weight_micro
FROM htok JOIN q USING (h)
GROUP BY htok.doc_id, htok.lang
ORDER BY weight_micro DESC, doc_id ASC
LIMIT {DSIR_TOP_K}
"""


# --- C4 cleaning ----------------------------------------------------------------

C4_MIN_WORDS_PER_LINE = 5
C4_MIN_LINES_PER_PAGE = 3
_C4_BASE_LINE_LEN = 6
_C4_LINE_LEN_MOD = 4
_LOREM_RESIDUE = 41
_BRACE_RESIDUE = 43


def c4_line_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4 page cleaning over deterministically assembled lines.

    Line assembly (identical in the oracle): tokens chunked into lines
    of 6 + doc_id % 4 words; a line gets its terminal '.' only when
    (doc_id + line_idx) % 3 != 0; docs on the lorem/brace residues gain
    one poisoned line.  Rules applied (Raffel et al. 2020 §2.2): keep
    lines ending in terminal punctuation AND with >= 5 words; drop the
    whole page on 'lorem ipsum', on '{{', or when fewer than 3 lines
    survive.  Emits per-page retention stats + the drop verdict.
    """
    docs = load_table(spark, "documents", sf)
    line_len = (F.lit(_C4_BASE_LINE_LEN) + F.col("doc_id") % _C4_LINE_LEN_MOD)
    toks = tokens(F.col("text"))
    n_lines = F.ceil(F.size(toks) / line_len).cast("long")
    body = F.transform(
        F.sequence(F.lit(0), (n_lines - 1).cast("int")),
        lambda i: F.concat(
            F.array_join(
                F.slice(toks, i * line_len.cast("int") + 1, line_len.cast("int")),
                " ",
            ),
            F.when((F.col("doc_id") + i) % 3 != 0, F.lit(".")).otherwise(
                F.lit("")
            ),
        ),
    )
    extra = F.when(
        F.col("doc_id") % _LOREM_RESIDUE == 0,
        F.array(F.lit("and now lorem ipsum dolor sit amet.")),
    ).when(
        F.col("doc_id") % _BRACE_RESIDUE == 0,
        F.array(F.lit("function f() { return 1; } end of script.")),
    ).otherwise(F.array().cast("array<string>"))
    lines = F.concat(body, extra)

    kept = F.filter(
        lines,
        lambda ln: ln.endswith(".")
        & (F.size(F.split(ln, " ")) >= C4_MIN_WORDS_PER_LINE),
    )
    page_text = F.array_join(lines, " ")
    n_kept = F.size(kept).cast("long")
    reason = (
        F.when(page_text.contains("lorem ipsum"), F.lit("lorem_ipsum"))
        .when(page_text.contains("{"), F.lit("brace"))
        .when(n_kept < C4_MIN_LINES_PER_PAGE, F.lit("too_few_lines"))
        .otherwise(F.lit("kept"))
    )
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.length(F.array_join(kept, " ")).cast("long").alias("kept_chars"),
        reason.alias("verdict"),
    )


C4_LINE_FILTER_SQL = f"""
WITH base AS (
  SELECT doc_id,
         string_split(trim(text), ' ') AS toks,
         {_C4_BASE_LINE_LEN} + doc_id % {_C4_LINE_LEN_MOD} AS line_len
  FROM documents
), assembled AS (
  SELECT doc_id,
         list_concat(
           list_transform(
             generate_series(0, CAST(ceil(len(toks) / CAST(line_len AS DOUBLE))
                                     AS BIGINT) - 1),
             i -> array_to_string(
                    list_slice(toks, i * line_len + 1, (i + 1) * line_len),
                    ' ')
                  || CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END),
           CASE WHEN doc_id % {_LOREM_RESIDUE} = 0
                THEN ['and now lorem ipsum dolor sit amet.']
                WHEN doc_id % {_BRACE_RESIDUE} = 0
                THEN ['function f() {{ return 1; }} end of script.']
                ELSE [] END) AS lines
  FROM base
), judged AS (
  SELECT doc_id, lines,
         list_filter(lines,
           ln -> ln LIKE '%.'
                 AND len(string_split(ln, ' ')) >= {C4_MIN_WORDS_PER_LINE}
         ) AS kept,
         array_to_string(lines, ' ') AS page_text
  FROM assembled
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       -- duckdb array_to_string([]) is NULL where Spark array_join is ''
       CAST(length(coalesce(array_to_string(kept, ' '), '')) AS BIGINT)
         AS kept_chars,
       CASE WHEN page_text LIKE '%lorem ipsum%' THEN 'lorem_ipsum'
            WHEN page_text LIKE '%{{%' THEN 'brace'
            WHEN len(kept) < {C4_MIN_LINES_PER_PAGE} THEN 'too_few_lines'
            ELSE 'kept' END AS verdict
FROM judged
"""


# --- Gopher quality rules (Rae et al. 2021, Table A1 doc-level subset) ------

_GOPHER_SYMBOL_RESIDUE = 17   # docs on this residue gain ceil(n/8) symbols
_GOPHER_HEAVY_RESIDUE = 23    # these gain 2n symbols (fail alpha + length)
_GOPHER_STOPWORDS = ("the", "a", "of", "and")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000


def gopher_quality_rules(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher document-level quality-rule battery (Rae et al.
    2021, "Scaling Language Models", Table A1) — the published-method
    companion to ``c4_line_filter`` (line rules) and ``dsir_select``
    (importance selection): word-count bounds [{lo}, {hi}], mean word
    length in [3, 10], ≥ 80% alphabetic words, symbol-to-word ratio
    ≤ 0.1, and ≥ 2 distinct stop words. Emits one row per document
    with each rule's verdict and the conjunction ``keep``.

    The synthetic corpus is symbol-free, so (the ``c4_line_filter``
    residue trick) two residue classes deterministically gain '#'
    tokens on BOTH engines: ``doc_id % {res} == 0`` gains ``ceil(n/8)``
    — symbol ratio ~1/8 > 0.1 fails while the alphabetic fraction 8/9
    stays above 0.8 — and ``doc_id % {hres} == 0`` gains ``2n``,
    dragging the alphabetic fraction to 1/3 < 0.8 AND the mean word
    length to ~2.5 < 3. Every rule in the battery therefore
    discriminates on this corpus (no vacuously-true column), and the
    two ratio rules are exercised independently.

    All rules are exact integer comparisons (cross-multiplied — e.g.
    mean word length in [3, 10] is ``3000·n ≤ 1000·Σlen ≤ 10000·n``),
    so no float boundary exists anywhere. One pass, zero shuffles:
    every rule is a per-row array fold over the token list.
    """
    docs = load_table(spark, "documents", sf)
    base = tokens(F.col("text"))
    n_base = F.size(base)
    n_sym = (
        F.when(
            F.col("doc_id") % _GOPHER_HEAVY_RESIDUE == 0, 2 * n_base
        )
        .when(
            F.col("doc_id") % _GOPHER_SYMBOL_RESIDUE == 0,
            F.ceil(n_base / F.lit(8)).cast("int"),
        )
        .otherwise(F.lit(0))
    )
    n_words = n_base + n_sym
    sum_len = F.aggregate(
        base, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    ) + n_sym.cast("long")  # '#' is 1 char
    n_alpha = F.size(F.filter(base, lambda t: t.rlike("[a-zA-Z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(base),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    r_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_mwl = (3000 * n_words <= 1000 * sum_len) & (
        1000 * sum_len <= 10000 * n_words
    )
    r_alpha = 10 * n_alpha >= 8 * n_words
    r_sym = 10 * n_sym <= n_words
    r_stop = n_stop >= 2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha_words"),
        r_sym.alias("r_symbol_ratio"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_alpha & r_sym & r_stop).alias("keep"),
    )


if gopher_quality_rules.__doc__:  # absent under python -OO
    gopher_quality_rules.__doc__ = gopher_quality_rules.__doc__.format(
        lo=GOPHER_MIN_WORDS,
        hi=GOPHER_MAX_WORDS,
        res=_GOPHER_SYMBOL_RESIDUE,
        hres=_GOPHER_HEAVY_RESIDUE,
    )


_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)

GOPHER_QUALITY_RULES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         string_split(trim(text), ' ') AS toks,
         len(string_split(trim(text), ' ')) AS n_base,
         CASE WHEN doc_id % {_GOPHER_HEAVY_RESIDUE} = 0
              THEN 2 * len(string_split(trim(text), ' '))
              WHEN doc_id % {_GOPHER_SYMBOL_RESIDUE} = 0
              THEN CAST(ceil(len(string_split(trim(text), ' ')) / 8.0)
                        AS INT)
              ELSE 0 END AS n_sym
  FROM documents
), m AS (
  SELECT doc_id,
         n_base + n_sym AS n_words,
         n_sym,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(toks, t -> CAST(length(t) AS BIGINT))),
             (a, b) -> a + b) + n_sym AS sum_len,
         len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
           AS n_alpha,
         len(list_intersect(list_distinct(toks),
                            [{_GOPHER_STOP_SQL}])) AS n_stop
  FROM base
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
         AS r_word_count,
       3000 * n_words <= 1000 * sum_len
         AND 1000 * sum_len <= 10000 * n_words AS r_mean_word_len,
       10 * n_alpha >= 8 * n_words AS r_alpha_words,
       10 * n_sym <= n_words AS r_symbol_ratio,
       n_stop >= 2 AS r_stopwords,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AND (3000 * n_words <= 1000 * sum_len
              AND 1000 * sum_len <= 10000 * n_words)
         AND 10 * n_alpha >= 8 * n_words
         AND 10 * n_sym <= n_words
         AND n_stop >= 2 AS keep
FROM m
"""


DATA_SELECTION_QUERIES = {
    "dsir_select": (dsir_select, DSIR_SELECT_SQL),
    "c4_line_filter": (c4_line_filter, C4_LINE_FILTER_SQL),
    "gopher_quality_rules": (gopher_quality_rules, GOPHER_QUALITY_RULES_SQL),
}
