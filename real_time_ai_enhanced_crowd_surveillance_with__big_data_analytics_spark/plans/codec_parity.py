"""Codec-parity plans: the real image/audio codecs, hash-verified.

The from-scratch PNG, GIF, TIFF and WAV codecs (operators/imagecodec.py,
gifcodec.py, tiffcodec.py, audiocodec.py — the zero-dependency decode
path behind the reference's frame pipeline, main.py:129-171) were
until now verified by unit tests only.  These plans promote them into
the oracle-verified registry using the html_extract_quality pattern
(VERDICT r6 #4): both engines derive the SAME deterministic media from
table keys — Spark by actually ENCODING it to image/WAV bytes and DECODING it back through the
real codecs before computing features, DuckDB by evaluating the pixel/
sample formula in closed form.  Any bit the encoder writes wrong or
the decoder reads wrong lands in the value hash.

Beyond codec verification, `image_dhash_neardup` is a first-class
training-data operator in its own right: difference-hash (dHash)
near-duplicate detection over an image corpus — the standard cheap
perceptual screen for image-dedup pipelines (LAION-style curation) —
with banded-LSH candidate generation so the pair search never goes
corpus-quadratic.

Scale shape: both scans are partition-local mapInPandas over tiny
per-row payloads (decode cost rides the scan, the 100 TB posture of
operators/multimodal.py).  The dHash pair search shuffles only
(band, value) keys — collisions, not the corpus square; at 100 TB the
64-bit hash + 4x16 banding keeps candidate volume proportional to the
true near-dup mass, the same discipline as dedup_minhash_lsh.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

# --- deterministic media formulas (shared Spark <-> oracle spec) -------------
#
# Image: 8 rows x 9 cols grayscale; doc families of 4 share a base
# pattern, each variant perturbs 2 pixels (+31), so family members are
# near-duplicates under dHash (<= 4 flipped comparisons) while distinct
# families are effectively random.  All arithmetic is int64-exact.
IMG_H, IMG_W = 8, 9
_PERTURB = 31
HAMMING_MAX = 6

# Audio: a wrapping integer sawtooth, length varies per doc.  PCM16 is
# lossless, so round(decoded * 32768) recovers the exact int samples.
_AUDIO_BASE_LEN = 200
_AUDIO_LEN_MOD = 57
_AUDIO_RATE = 16_000


def _image_pixels(doc_id: int) -> np.ndarray:
    # Family-keyed quadratic surface: the x-difference (what dHash
    # compares) is (c2 + c3*(2x+1) + c5*y) mod 256 with coefficients
    # drawn per family, so distinct families get effectively random
    # 64-bit hashes (cross-family band collisions ~2^-16) while the
    # 4 variants differ by 2 perturbed pixels (<= 4 flipped bits).
    fam, var = doc_id // 4, doc_id % 4
    y, x = np.mgrid[0:IMG_H, 0:IMG_W]
    p = (
        fam
        + (fam * 101 % 256) * x
        + (fam * 59 % 251) * x * x
        + (fam * 47 % 256) * y
        + (fam * 83 % 256) * x * y
        + np.where((y * IMG_W + x) % 37 == var, _PERTURB, 0)
    ) % 256
    return p.astype(np.uint8)


def _audio_samples(doc_id: int) -> np.ndarray:
    n = _AUDIO_BASE_LEN + doc_id % _AUDIO_LEN_MOD
    t = np.arange(n, dtype=np.int64)
    return ((13 * doc_id + 97 * t + 7) % 2048) - 1024


# --- Arrow-batched scan workers ----------------------------------------------


def _dhash_bands(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: doc_id → lossless encode → decode → 64-bit
    dHash packed as 4x16-bit bands.  The container rotates by doc_id
    (PNG with all five per-row filter types cycled, GIF's LZW+palette,
    TIFF PackBits in both byte orders), so every lossless codec's
    encoder AND decoder sit inside the oracle hash — the closed-form
    SQL twin never decodes, it recomputes the pixels, so one wrong bit
    in any container fails the value hash."""
    from ..operators.gifcodec import decode_gif, encode_gif
    from ..operators.imagecodec import decode_png, encode_png
    from ..operators.tiffcodec import decode_tiff, encode_tiff

    rows = np.arange(IMG_H)
    for pdf in batches:
        out = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            gray = _image_pixels(doc_id)
            img = np.repeat(gray[:, :, None], 3, axis=2)
            route = doc_id % 4
            if route == 2:
                dec = decode_gif(encode_gif(img, interlace=bool(doc_id & 4)))
            elif route == 3:
                dec = decode_tiff(
                    encode_tiff(img, big_endian=bool(doc_id & 4), gray=True)
                )
            else:
                buf = encode_png(
                    img,
                    filters=((doc_id + rows) % 5).astype(np.uint8),
                    gray=True,
                )
                dec = decode_png(buf)
            dec = dec[:, :, 0].astype(np.int64)
            bits = (dec[:, 1:] > dec[:, :-1]).astype(np.int64).reshape(-1)
            weights = np.int64(1) << (np.arange(64, dtype=np.int64) % 16)
            bands = [
                int(np.sum(bits[i * 16 : (i + 1) * 16] * weights[:16]))
                for i in range(4)
            ]
            out["doc_id"].append(doc_id)
            for i in range(4):
                out[f"b{i}"].append(bands[i])
        yield pd.DataFrame(out)


def _pcm_features(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: doc_id → WAV(PCM16) encode → decode →
    integer signal features from the DECODED samples."""
    from ..operators.audiocodec import decode_wav, encode_wav

    for pdf in batches:
        out = {
            "doc_id": [],
            "n_samples": [],
            "zero_crossings": [],
            "abs_sum": [],
            "peak": [],
        }
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            s = _audio_samples(doc_id)
            wav = encode_wav(s / 32768.0, _AUDIO_RATE)
            dec, rate = decode_wav(wav)
            if rate != _AUDIO_RATE:
                raise ValueError(f"WAV rate drifted: {rate}")
            got = np.round(dec[:, 0] * 32768.0).astype(np.int64)
            out["doc_id"].append(doc_id)
            out["n_samples"].append(int(got.size))
            out["zero_crossings"].append(int(np.sum(got[:-1] * got[1:] < 0)))
            out["abs_sum"].append(int(np.sum(np.abs(got))))
            out["peak"].append(int(np.max(np.abs(got))))
        yield pd.DataFrame(out)


# --- registry queries ---------------------------------------------------------


def image_dhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual near-duplicate image pairs via dHash + banded LSH.

    Pipeline: real PNG encode+decode per doc (partition-local scan),
    64-bit difference hash from the DECODED pixels, 4x16-bit bands,
    candidates from in-bucket pair expansion per (band_idx, band_val)
    — never an all-pairs comparison — then exact Hamming distance
    (bit_count of XOR) with a <= HAMMING_MAX cut.  The oracle evaluates
    the pixel formula in closed form, so a single wrong pixel anywhere
    in the encode/decode path flips dHash bits and fails the value
    hash.
    """
    docs = load_table(spark, "documents", sf).select("doc_id")
    # fan the per-doc Python codec work across the cluster: the test
    # corpus is one row-group, so mapInPandas straight off the scan
    # runs EVERY encode+decode on a single task (the
    # single-split-scan → one-task trap; explicit N because AQE would
    # coalesce a keyless repartition of KB-sized input back to 1).
    # The shuffle moves only doc_id longs — decode cost dominates it
    # at any scale.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    hashes = docs.mapInPandas(
        _dhash_bands, schema="doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    # bucket-pair expansion instead of a self-join: a self-join would
    # reference (and re-run) the decode scan per side — and a
    # localCheckpoint barrier pays the .rdd path's interpreted
    # execution (both measured ~2× this plan). One groupBy per
    # (band_idx, band_val) bucket, members sorted by doc_id, pairs
    # expanded in-bucket — the quadratic is bounded by bucket size
    # (family members + ~2^-16 random collisions), the LSH discipline.
    exploded = hashes.select(
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "band_val"
        ),
        F.struct("doc_id", "b0", "b1", "b2", "b3").alias("m"),
    )
    buckets = (
        exploded.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ms",
                    lambda x, i: F.transform(
                        F.slice(
                            "ms", i + F.lit(2), F.size("ms")
                        ),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    ham = sum(
        F.bit_count(
            F.col(f"p.a.b{i}").bitwiseXOR(F.col(f"p.b.b{i}"))
        )
        for i in range(4)
    ).cast("long")
    return (
        pairs.select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


def _px(did: str, yy: str, xx: str) -> str:
    """The pixel formula as a DuckDB scalar expression (int64-exact)."""
    fam = f"({did}//4)"
    return (
        f"({fam} + ({fam}*101 % 256)*({xx}) + ({fam}*59 % 251)*({xx})*({xx})"
        f" + ({fam}*47 % 256)*{yy} + ({fam}*83 % 256)*({xx})*{yy}"
        f" + CASE WHEN ({yy}*{IMG_W}+{xx}) % 37 = {did} % 4"
        f" THEN {_PERTURB} ELSE 0 END) % 256"
    )


IMAGE_DHASH_NEARDUP_SQL = f"""
WITH grid AS (
  SELECT ys.y, xs.x
  FROM (SELECT unnest(generate_series(0, {IMG_H - 1})) AS y) ys,
       (SELECT unnest(generate_series(0, {IMG_W - 2})) AS x) xs
), bits AS (
  SELECT d.doc_id, g.y, g.x,
         CASE WHEN {_px('d.doc_id', 'g.y', 'g.x+1')}
                 > {_px('d.doc_id', 'g.y', 'g.x')}
              THEN 1 ELSE 0 END AS b
  FROM documents d CROSS JOIN grid g
), bands AS (
  SELECT doc_id, (y*{IMG_W - 1}+x)//16 AS band_idx,
         SUM(b * (CAST(1 AS BIGINT) << ((y*{IMG_W - 1}+x) % 16))) AS band_val
  FROM bits GROUP BY doc_id, band_idx
), hashes AS (
  SELECT doc_id,
         MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
         MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
         MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
         MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
  FROM bands GROUP BY doc_id
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
              AS BIGINT) AS hamming
  FROM hashes a JOIN hashes b
    ON a.doc_id < b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {HAMMING_MAX}
"""


def audio_pcm_features(spark: SparkSession, sf: str) -> DataFrame:
    """Integer signal features through the real WAV codec.

    Each doc's sawtooth is encoded to PCM16 WAV bytes and decoded back
    by operators/audiocodec.py before any feature is computed; PCM16
    is lossless so every feature is exact int64.  Zero crossings use
    the sign-product convention (s[t-1]*s[t] < 0) — no float, no
    ambiguity at zero.
    """
    docs = load_table(spark, "documents", sf).select("doc_id")
    return docs.mapInPandas(
        _pcm_features,
        schema=(
            "doc_id long, n_samples long, zero_crossings long,"
            " abs_sum long, peak long"
        ),
    )


def _sv(did: str, ii: str) -> str:
    """The sample formula as a DuckDB scalar expression."""
    return f"(((13*{did} + 97*({ii}) + 7) % 2048) - 1024)"


AUDIO_PCM_FEATURES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         unnest(generate_series(
           0, {_AUDIO_BASE_LEN - 1} + doc_id % {_AUDIO_LEN_MOD})) AS i
  FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(CASE WHEN i > 0
                      AND {_sv('doc_id', 'i')} * {_sv('doc_id', 'i-1')} < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(SUM(abs({_sv('doc_id', 'i')})) AS BIGINT) AS abs_sum,
       CAST(MAX(abs({_sv('doc_id', 'i')})) AS BIGINT) AS peak
FROM t GROUP BY doc_id
"""


# --- XML ingestion parity (Spark 4 native XML, the wiki-dump shape) ----------

_XML_SCHEMA = (
    "title STRING, ns INT, id BIGINT, "
    "revision STRUCT<id: BIGINT, text: STRING>"
)


def xml_pages_extract(spark: SparkSession, sf: str) -> DataFrame:
    """XML ingestion through Spark 4's NATIVE XML parser, hash-verified
    — the MediaWiki-dump shape (``<page><title/><ns/><id/><revision>``)
    that every Wikipedia-derived pretraining corpus starts from.

    Both engines derive the same deterministic page markup from the
    documents table; Spark genuinely serializes it and parses it back
    with ``from_xml`` (nested struct schema, numeric coercion, XML
    entity decoding — the body embeds ``&amp;``/``&lt;`` so entity
    handling lands in the value hash); DuckDB evaluates the generator
    in closed form. Any field the parser mis-extracts, mis-casts, or
    mis-unescapes hash-mismatches.

    Scale: pure per-row codegen + the parser — zero shuffles, the
    partition-local posture of every ingestion scan here; a real dump
    splits on the <page> rowTag via format("xml"), same parser
    (exercised in test_xml_ingest)."""
    docs = load_table(spark, "documents", sf)
    xml = F.concat(
        F.lit("<page><title>doc_"),
        F.col("doc_id"),
        F.lit("</title><ns>"),
        F.col("doc_id") % 4,
        F.lit("</ns><id>"),
        F.col("doc_id"),
        F.lit("</id><revision><id>"),
        (F.col("doc_id") * 7 + 13) % 1000,
        F.lit("</id><text>"),
        F.col("text"),
        F.lit(" &amp; &lt;end_"),
        F.col("doc_id"),
        F.lit("&gt;</text></revision></page>"),
    )
    parsed = docs.select(
        "doc_id", F.from_xml(xml, _XML_SCHEMA).alias("p")
    )
    return parsed.select(
        "doc_id",
        F.col("p.title").alias("title"),
        F.col("p.ns").alias("ns"),
        (F.col("p.id") == F.col("doc_id")).alias("id_ok"),
        F.col("p.revision.id").alias("rev_id"),
        F.col("p.revision.text").alias("body"),
        F.length("p.revision.text").alias("body_chars"),
    )


XML_PAGES_EXTRACT_SQL = """
SELECT doc_id,
       'doc_' || doc_id AS title,
       CAST(doc_id % 4 AS INT) AS ns,
       TRUE AS id_ok,
       (doc_id * 7 + 13) % 1000 AS rev_id,
       text || ' & <end_' || doc_id || '>' AS body,
       CAST(length(text || ' & <end_' || doc_id || '>') AS INT) AS body_chars
FROM documents
"""


CODEC_PARITY_QUERIES = {
    "xml_pages_extract": (xml_pages_extract, XML_PAGES_EXTRACT_SQL),
    "image_dhash_neardup": (image_dhash_neardup, IMAGE_DHASH_NEARDUP_SQL),
    "audio_pcm_features": (audio_pcm_features, AUDIO_PCM_FEATURES_SQL),
}
