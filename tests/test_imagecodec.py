"""Pure-stdlib PNG codec (operators/imagecodec.py) and its wiring into
decode_image. The symmetric-bug trap (encoder and decoder
wrong the same way) is broken by anchoring on filter 0: a filter-0 PNG
is raw scanlines behind zlib — verifiable by direct byte comparison —
and every other filter must decode to the SAME pixels."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.imagecodec import (
    PNG_MAGIC,
    decode_png,
    encode_png,
)


def _img(h=13, w=17, seed=7):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_filter0_png_is_raw_scanlines_behind_zlib():
    """The anchor: with filter 0 the IDAT payload must be exactly
    b'\\x00' + row bytes per scanline (RGB order), by the PNG spec —
    checked against independently-built bytes, not our own decoder."""
    bgr = _img(4, 5)
    buf = encode_png(bgr, filters=0)
    # walk chunks independently
    pos, idat = 8, b""
    while pos + 8 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            idat += buf[pos + 8 : pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(idat)
    rgb = bgr[:, :, ::-1]
    want = b"".join(b"\x00" + rgb[y].tobytes() for y in range(4))
    assert raw == want
    assert np.array_equal(decode_png(buf), bgr)


@pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
def test_every_filter_roundtrips_to_the_same_pixels(f):
    bgr = _img(11, 9, seed=f)
    assert np.array_equal(decode_png(encode_png(bgr, filters=f)), bgr)


def test_mixed_per_row_filters_roundtrip():
    bgr = _img(10, 8)
    filters = np.array([0, 1, 2, 3, 4, 4, 3, 2, 1, 0], dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(bgr, filters=filters)), bgr)


def test_grayscale_png():
    bgr = _img(6, 7)
    out = decode_png(encode_png(bgr, filters=4, gray=True))
    # gray takes the blue channel and replicates it across BGR
    want = np.repeat(bgr[:, :, :1], 3, axis=2)
    assert np.array_equal(out, want)


def test_rgba_and_palette_pngs_decode():
    """Hand-built color-type 6 (RGBA) and 3 (palette) PNGs with
    filter-0 scanlines — no reliance on our encoder."""

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    rng = np.random.RandomState(3)
    h, w = 5, 4
    rgba = rng.randint(0, 256, size=(h, w, 4), dtype=np.uint8)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    png6 = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png6), rgba[:, :, :3][:, :, ::-1])

    pal = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, size=(h, w), dtype=np.uint8)
    raw3 = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    png3 = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw3))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png3), pal[idx][:, :, ::-1])


def test_png_unsupported_corners_raise():
    bgr = _img(3, 3)
    buf = bytearray(encode_png(bgr))
    # IHDR data starts at offset 16; interlace byte is its 13th byte
    buf[16 + 12] = 1
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(bytes(buf))
    buf = bytearray(encode_png(bgr))
    buf[16 + 8] = 16  # bit depth
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(bytes(buf))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF....")
    with pytest.raises(ValueError, match="wrong size"):
        # claim a 100x100 image but ship 3x3 pixel data
        big = encode_png(bgr)
        hdr = struct.pack(">IIBBBBB", 100, 100, 8, 2, 0, 0, 0)
        patched = (
            big[:16]
            + hdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + hdr) & 0xFFFFFFFF)
            + big[16 + 13 + 4 :]
        )
        decode_png(patched)


def test_decode_image_routes_by_magic():
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        HAS_IMAGE_LIBS,
        decode_image,
    )

    if HAS_IMAGE_LIBS:  # pragma: no cover - container has no cv2/PIL
        pytest.skip("cv2/PIL present; native decoders take precedence")
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.gifcodec import (
        encode_gif,
    )

    bgr = _img(8, 8)
    assert np.array_equal(decode_image(encode_png(bgr, filters=2)), bgr)
    assert np.array_equal(decode_image(encode_gif(bgr)), bgr)
    # JPEG and BMP have no decoder here: like non-image bytes they hit
    # the deterministic stub, the buffer's first 64 bytes as 8x8 gray
    for magic in (b"\xff\xd8\xff\xe0", b"BM"):
        buf = magic + bgr.tobytes()
        out = decode_image(buf)
        assert out.shape == (8, 8) and out.tobytes() == buf[:64]
    assert decode_image(b"just text bytes").shape == (8, 8)


def test_real_decode_feeds_the_spark_feature_path(spark):
    """End-to-end: PNG payloads decoded (for real) inside the Arrow
    batch pipeline, fire-pixel counts must match the pure-numpy path."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        decode_image,
        fire_pixel_count,
        scan_fire_pixels,
    )

    rows = []
    for i in range(6):
        rng = np.random.RandomState(i)
        img = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
        if i % 2:  # paint a fire-colored block into half the images
            img[2:9, 3:11] = (40, 140, 250)  # BGR ≈ orange
        rows.append((i, bytearray(encode_png(img, filters=i % 5))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    scanned = df.mapInPandas(
        scan_fire_pixels, schema="doc_id long, fire_pixels long"
    )
    got = {r["doc_id"]: r["fire_pixels"] for r in scanned.collect()}
    for fid, buf in rows:
        assert got[fid] == fire_pixel_count(decode_image(bytes(buf)))
    assert any(v > 0 for v in got.values())


def test_corrupt_png_degrades_to_stub_not_task_death():
    """decode_image stays TOTAL in the no-lib container: a PNG-magic
    buffer with a truncated IDAT must fall back to the deterministic
    stub (r4 behavior) instead of leaking zlib.error and killing the
    Spark task; the strict codec entrypoint raises ValueError."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        HAS_IMAGE_LIBS,
        decode_image,
    )

    bgr = _img(5, 5)
    buf = encode_png(bgr)
    corrupt = buf[:40] + b"\x00" * (len(buf) - 40)  # wreck IDAT, keep magic
    with pytest.raises(ValueError):
        decode_png(corrupt)
    if not HAS_IMAGE_LIBS:
        assert decode_image(corrupt).shape == (8, 8)  # stub, no raise

    # palette index past the PLTE is a loud codec error too
    import struct as st

    def chunk(ctype, data):
        return (
            st.pack(">I", len(data))
            + ctype
            + data
            + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b"\x00\x03\x03"  # 1x2 palette image referencing index 3
    bad_pal = (
        PNG_MAGIC
        + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes(6))  # only 2 entries
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE range"):
        decode_png(bad_pal)


# --- property-based fuzz (hypothesis) ----------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_png_roundtrip_property(h, w, seed, data):
    rng = np.random.RandomState(seed)
    bgr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    filters = np.asarray(
        data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h)),
        dtype=np.uint8,
    )
    assert np.array_equal(decode_png(encode_png(bgr, filters=filters)), bgr)


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_flips=st.integers(1, 8),
)
def test_corrupted_png_never_leaks_foreign_exceptions(seed, n_flips):
    """The ValueError contract under fuzzing: a valid PNG with random
    byte corruption (magic kept intact so the codec path is taken)
    either still decodes to SOME uint8 array or raises ValueError —
    never zlib.error / IndexError / struct.error, which would escape
    decode_image's fallback and kill a Spark task."""
    rng = np.random.RandomState(seed)
    bgr = rng.randint(0, 256, size=(6, 6, 3), dtype=np.uint8)
    buf = bytearray(encode_png(bgr, filters=int(rng.randint(0, 5))))
    for _ in range(n_flips):
        pos = int(rng.randint(8, len(buf)))  # keep the 8-byte magic
        buf[pos] = int(rng.randint(0, 256))
    if rng.randint(0, 2):  # also truncate half the time
        buf = buf[: int(rng.randint(9, len(buf)))]
    try:
        out = decode_png(bytes(buf))
        assert out.dtype == np.uint8 and out.ndim == 3
    except ValueError:
        pass
