"""Multimodal column conventions + batch feature extraction
(BASELINE.json north-star: image/audio/video as opaque binary columns
with typed metadata; SURVEY.md §1.2 'image payloads at scale').

Conventions:
- payload: ``BinaryType`` column (inline only at small scale),
- pointer: ``image_uri StringType`` for the 100 TB posture,
- metadata: plain columns (width/height/format), never packed blobs.

Decode status: PNG (operators/imagecodec.py), GIF and TIFF
(gifcodec.py, tiffcodec.py) byte→pixel decode is real with zero
external deps, selected by magic-byte sniffing; cv2/PIL are preferred
when importable and are the only path for every other format (JPEG,
BMP, ...), whose absence leaves the deterministic byte-level stub. The
Spark-side plumbing (schema, Arrow batch shape, mapInPandas
signature, partitioning) is real and tested either way.
The reference's equivalents are numpy_to_pil (main.py:139-140) and the
cv2 preprocess projections (main.py:93,154-156).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # decode path needs cv2/PIL — absent in this container by design
    import cv2  # type: ignore[import-not-found]

    HAS_CV2 = True
except ImportError:
    HAS_CV2 = False

try:
    from PIL import Image  # type: ignore[import-not-found]

    HAS_PIL = True
except ImportError:
    HAS_PIL = False

HAS_IMAGE_LIBS = HAS_CV2 or HAS_PIL

FEATURE_DIM = 8


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload column (documents' text bytes stand in
    for image bytes) + pointer column, per the column conventions."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.concat(F.lit("blob://docs/"), F.col("doc_id")).alias("payload_uri"),
    )


def decode_image(buf: bytes) -> np.ndarray:
    """Real decode via cv2/PIL when importable; otherwise a real
    pure-stdlib decode for PNG, GIF and TIFF (operators/imagecodec.py,
    gifcodec.py, tiffcodec.py) and the deterministic fake for anything
    else. Without cv2/PIL, JPEG and BMP buffers decode to the fake:
    the reference reads webcam frames through cv2 and never decodes an
    image file, so the package carries no codec for them. Always
    returns a uint8 array in cv2's BGR channel order so everything
    downstream (preprocess_blob, feature histograms) is
    convention-stable regardless of which decoder ran — matching the
    reference, whose frames are cv2 BGR (main.py:143-149) and whose
    RGB conversion is an explicit transform step (util.py:13-14,
    blobFromImage swapRB).

    The fake 'image' is the byte buffer reshaped/padded to 8×8 — enough
    to exercise the downstream feature path deterministically.
    """
    if HAS_CV2:  # pragma: no cover - lib absent in this container
        img = cv2.imdecode(np.frombuffer(buf, dtype=np.uint8), cv2.IMREAD_COLOR)
        if img is None:
            raise ValueError("undecodable image buffer")
        return img
    if HAS_PIL:  # pragma: no cover - lib absent in this container
        import io

        img = np.asarray(Image.open(io.BytesIO(buf)).convert("RGB"))
        return img[:, :, ::-1].copy()  # RGB → BGR, cv2 convention
    from .imagecodec import decode_png, sniff_format

    fmt = sniff_format(bytes(buf))
    try:
        if fmt == "png":
            return decode_png(bytes(buf))
        if fmt == "gif":
            from .gifcodec import decode_gif

            return decode_gif(bytes(buf))
        if fmt == "tiff":
            from .tiffcodec import decode_tiff

            return decode_tiff(bytes(buf))
    except ValueError:
        # the no-lib seam stays TOTAL: a malformed buffer degrades to
        # the deterministic stub (the container's documented degraded
        # mode) instead of killing the Spark task — mirroring r4
        # behavior, where every buffer hit the stub. With
        # cv2/PIL present the native path above raises instead; callers
        # wanting loud failures in this container should call the
        # imagecodec decoders directly.
        pass
    arr = np.frombuffer(buf, dtype=np.uint8)
    out = np.zeros(64, dtype=np.uint8)
    out[: min(64, len(arr))] = arr[:64]
    return out.reshape(8, 8)


BLOB_SIZE = (416, 416)  # reference main.py:93,190 blobFromImage geometry
BLOB_SCALE = 1.0 / 255.0


def preprocess_blob(
    img: np.ndarray, size: tuple[int, int] = BLOB_SIZE
) -> np.ndarray:
    """The reference's ``cv2.dnn.blobFromImage(frame, 1/255, (416,416),
    swapRB=True, crop=False)`` (main.py:93,190) in pure numpy: resize
    to ``size``, scale to [0,1], BGR→RGB channel swap, CHW layout with
    a leading batch axis → float32 (1, 3, H, W). Pure numpy so the
    projection is identical in real-decode and stub modes (a 2-D stub
    image is broadcast across the 3 channels first)."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    w, h = size
    resized = resize_image(img, w, h)
    rgb = resized[:, :, ::-1].astype("float32") * BLOB_SCALE
    return np.ascontiguousarray(rgb.transpose(2, 0, 1))[None, ...]


def extract_features(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: binary payload → FEATURE_DIM byte-histogram
    feature vector (the stub for model feature extraction). One Arrow
    batch in, one out — the at-scale shape for GPU feature extractors
    (predict_batch_udf swaps in for the histogram)."""
    for pdf in batches:
        feats = []
        for buf in pdf["payload"]:
            img = decode_image(bytes(buf))
            hist, _ = np.histogram(img, bins=FEATURE_DIM, range=(0, 256))
            feats.append((hist / max(1, img.size)).round(6).tolist())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(bytes(b)) for b in pdf["payload"]],
                "features": feats,
            }
        )


def bgr_to_hsv(img: np.ndarray) -> np.ndarray:
    """cv2.cvtColor(..., COLOR_BGR2HSV) for uint8 images in pure numpy
    (reference main.py:156 fire detection): H in [0,180), S,V in
    [0,255]. Float math with round-half-away like cv2's saturate_cast;
    parity with real cv2 is asserted to ±1 in the gated test."""
    b, g, r = (img[..., i].astype("float64") for i in range(3))
    v = np.maximum(np.maximum(b, g), r)
    mn = np.minimum(np.minimum(b, g), r)
    diff = v - mn
    s = np.where(v > 0, 255.0 * diff / np.where(v > 0, v, 1), 0.0)
    # hue by argmax channel, cv2's 0-180 scale
    safe = np.where(diff > 0, diff, 1)
    h = np.where(
        diff == 0,
        0.0,
        np.where(
            v == r,
            30.0 * (g - b) / safe,
            np.where(
                v == g,
                60.0 + 30.0 * (b - r) / safe,
                120.0 + 30.0 * (r - g) / safe,
            ),
        ),
    )
    h = np.where(h < 0, h + 180.0, h)
    out = np.stack(
        [np.floor(h + 0.5), np.floor(s + 0.5), v], axis=-1
    ).clip(0, 255)
    out[..., 0] %= 180
    return out.astype("uint8")


def _gaussian_kernel(ksize: int) -> np.ndarray:
    """cv2.getGaussianKernel with its default sigma for the given
    aperture: sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8, normalized."""
    sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype="float64") - (ksize - 1) / 2
    k = np.exp(-(x**2) / (2 * sigma**2))
    return k / k.sum()


def gaussian_blur(img: np.ndarray, ksize: int = 21) -> np.ndarray:
    """cv2.GaussianBlur(frame, (ksize, ksize), 0) in pure numpy
    (reference main.py:155): separable kernel with cv2's default-sigma
    formula and BORDER_REFLECT_101 padding, rounded back to uint8."""
    pad = ksize // 2
    acc = img.astype("float64")
    k = _gaussian_kernel(ksize)
    for axis in (0, 1):
        padded = np.pad(
            acc,
            [(pad, pad) if a == axis else (0, 0) for a in range(acc.ndim)],
            mode="reflect",  # numpy 'reflect' == cv2 BORDER_REFLECT_101
        )
        acc = sum(
            k[i]
            * np.take(padded, range(i, i + acc.shape[axis]), axis=axis)
            for i in range(ksize)
        )
    return np.floor(acc + 0.5).clip(0, 255).astype("uint8")


FIRE_HSV_LOWER = (18, 50, 50)  # reference main.py:158
FIRE_HSV_UPPER = (35, 255, 255)  # reference main.py:159


def fire_pixel_count(img: np.ndarray, blur_ksize: int = 21) -> int:
    """The reference's full fire-detection pixel path (main.py:154-160):
    Gaussian blur → BGR2HSV → inRange(lower, upper) → count of matching
    pixels. The count feeds the same >N-pixels threshold predicate the
    engine's fire_alerts plan applies to the events table."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    hsv = bgr_to_hsv(gaussian_blur(img, blur_ksize))
    lo = np.array(FIRE_HSV_LOWER)
    hi = np.array(FIRE_HSV_UPPER)
    mask = np.all((hsv >= lo) & (hsv <= hi), axis=-1)
    return int(mask.sum())


def bitwise_mask_apply(
    frame: np.ndarray, other: np.ndarray, mask: np.ndarray
) -> np.ndarray:
    """SURVEY §2.2 P9 — the reference's display-sink masking projection
    ``cv2.bitwise_and(frame, hsv, mask=mask)`` (main.py:165): per-pixel
    ``frame AND other`` wherever mask is non-zero, 0 elsewhere. cv2
    semantics exactly: the mask is single-channel and gates ALL
    channels; AND is bitwise on uint8. Sink-side only in the reference
    (the relational plans consume the mask's COUNT, not the masked
    image), so the engine exposes it as a transform for rendered
    outputs — composable into the transform pipeline like blur/hsv."""
    if mask.ndim == 3:
        mask = mask[:, :, 0]
    out = (frame & other).astype("uint8", copy=False)
    return np.where(mask[:, :, None] != 0, out, np.uint8(0))


def fire_mask_overlay(img: np.ndarray, blur_ksize: int = 21) -> np.ndarray:
    """The full reference display path (main.py:154-165): blur → HSV →
    inRange fire mask → bitwise_and(frame, hsv, mask) — the rendered
    overlay the display sink would show. Returns the masked composite."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    hsv = bgr_to_hsv(gaussian_blur(img, blur_ksize))
    lo = np.array(FIRE_HSV_LOWER)
    hi = np.array(FIRE_HSV_UPPER)
    mask = np.all((hsv >= lo) & (hsv <= hi), axis=-1).astype("uint8") * 255
    return bitwise_mask_apply(img, hsv, mask)


def resize_image(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize in pure numpy — genuinely functional
    (not a stub): index-map sampling, the same semantics as
    cv2.resize(..., INTER_NEAREST) / reference main.py:93's 416×416
    geometry normalization, minus the interpolation-kernel choices."""
    h, w = img.shape[:2]
    rows = (np.arange(height) * h // height).clip(0, h - 1)
    cols = (np.arange(width) * w // width).clip(0, w - 1)
    return img[rows][:, cols]


# video frame-sampling conventions (deterministic fake container: the
# payload is a concatenation of fixed-size frame blocks; a real build
# swaps the chunker for an av/ffmpeg demuxer — the Spark plumbing and
# the oracle shape are identical)
FRAME_SIZE = 64
FRAME_STRIDE = 3


def sample_frames(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: video payload → every FRAME_STRIDE-th frame
    (frame_idx, frame_bytes). Fan-out happens inside the Arrow batch —
    one batch in, one (larger) batch out, no shuffle."""
    for pdf in batches:
        doc_ids: list[int] = []
        idxs: list[int] = []
        sizes: list[int] = []
        for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
            n = len(bytes(buf))
            n_frames = (n + FRAME_SIZE - 1) // FRAME_SIZE
            for idx in range(0, n_frames, FRAME_STRIDE):
                doc_ids.append(doc_id)
                idxs.append(idx)
                sizes.append(min(FRAME_SIZE, n - idx * FRAME_SIZE))
        yield pd.DataFrame(
            {"doc_id": doc_ids, "frame_idx": idxs, "frame_bytes": sizes}
        )


def video_frame_sample(docs: DataFrame) -> DataFrame:
    """Distributed frame sampling over binary payloads (documents' text
    bytes stand in for video containers). Partition-local mapInPandas;
    at 100 TB the input is `binaryFile`-scanned video objects and the
    only change is the demuxer inside the worker."""
    return with_binary_payload(docs).mapInPandas(
        sample_frames, schema="doc_id long, frame_idx long, frame_bytes long"
    )


def scan_fire_pixels(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: payload → decode → blur → HSV → in-range
    pixel count (the reference's per-frame detect_fire preprocessing,
    distributed). Arrow batch in, one row per payload out."""
    for pdf in batches:
        counts = [
            fire_pixel_count(decode_image(bytes(buf))) for buf in pdf["payload"]
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "fire_pixels": counts})


def fire_pixel_scan(docs: DataFrame) -> DataFrame:
    """Distributed fire-pixel scan over binary payloads: the pixel math
    is the real reference pipeline (blur → HSV → inRange), the decode
    is the cv2/PIL/stub seam. Partition-local, zero shuffle."""
    return with_binary_payload(docs).mapInPandas(
        scan_fire_pixels, schema="doc_id long, fire_pixels long"
    )


def multimodal_features(docs: DataFrame) -> DataFrame:
    """Distributed feature extraction over binary payloads. No shuffle:
    mapInPandas is partition-local; partition sizing comes from the
    scan (maxPartitionBytes), which is the right knob at 100 TB."""
    payloads = with_binary_payload(docs)
    return payloads.mapInPandas(
        extract_features,
        schema="doc_id long, n_bytes long, features array<double>",
    )
