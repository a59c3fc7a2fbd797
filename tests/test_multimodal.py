"""Multimodal plumbing tests: binary payload schema, Arrow batch shape,
deterministic stub decode (operators/multimodal.py)."""

from __future__ import annotations

import numpy as np

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_image,
    multimodal_features,
    with_binary_payload,
)
from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)


def test_decode_stub_deterministic():
    a = decode_image(b"hello world")
    b = decode_image(b"hello world")
    assert a.shape == (8, 8)
    assert np.array_equal(a, b)
    assert a.flatten()[0] == ord("h")


def test_preprocess_blob_reference_semantics():
    """blobFromImage parity in stub mode: scale 1/255, (416,416)
    geometry, BGR→RGB swap, NCHW layout (reference main.py:93,190)."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        preprocess_blob,
    )

    img = decode_image(b"hello world")  # stub 8x8
    blob = preprocess_blob(img)
    assert blob.shape == (1, 3, 416, 416)
    assert blob.dtype == np.float32
    assert float(blob.max()) <= 1.0 and float(blob.min()) >= 0.0
    # nearest-neighbor upsample of the stub: corner pixel survives
    assert abs(float(blob[0, 0, 0, 0]) - ord("h") / 255.0) < 1e-6
    # swapRB on a 3-channel input: channel 0 of the blob is input's B
    bgr = np.zeros((4, 4, 3), dtype=np.uint8)
    bgr[:, :, 0] = 100  # B
    bgr[:, :, 2] = 200  # R
    b2 = preprocess_blob(bgr, size=(4, 4))
    assert abs(float(b2[0, 0, 0, 0]) - 200 / 255.0) < 1e-6  # R first
    assert abs(float(b2[0, 2, 0, 0]) - 100 / 255.0) < 1e-6  # B last


def test_real_decode_golden_when_libs_present():
    """Real-decode mode: encode a tiny known image with the available
    lib and decode it back through the seam — skips (documented) where
    neither cv2 nor PIL exists; the stub tests above carry that mode."""
    import pytest

    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators import (
        multimodal as mm,
    )

    if not mm.HAS_IMAGE_LIBS:
        pytest.skip("no cv2/PIL in this environment (stub mode tested above)")
    golden = np.zeros((5, 7, 3), dtype=np.uint8)
    golden[:, :, 0] = 10  # B plane
    golden[2, 3] = (1, 2, 3)
    if mm.HAS_CV2:
        ok, png = mm.cv2.imencode(".png", golden)
        assert ok
        buf = png.tobytes()
    else:
        import io

        from PIL import Image

        bio = io.BytesIO()
        Image.fromarray(golden[:, :, ::-1]).save(bio, format="PNG")  # RGB source
        buf = bio.getvalue()
    out = mm.decode_image(buf)
    assert out.dtype == np.uint8
    assert np.array_equal(out, golden)  # lossless PNG round-trip, BGR order
    blob = mm.preprocess_blob(out)
    assert blob.shape == (1, 3, 416, 416)


def test_payload_schema(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    p = with_binary_payload(docs)
    kinds = dict(p.dtypes)
    assert kinds == {"doc_id": "bigint", "payload": "binary", "payload_uri": "string"}


def test_features_shape_and_determinism(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(20)
    out = multimodal_features(docs).collect()
    assert len(out) == 20
    for r in out:
        assert len(r.features) == FEATURE_DIM
        assert abs(sum(r.features) - 1.0) < 1e-6  # histogram normalized
    out2 = {r.doc_id: r.features for r in multimodal_features(docs).collect()}
    assert {r.doc_id: r.features for r in out} == out2


def test_resize_nearest_neighbor_golden():
    import numpy as np

    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        resize_image,
    )

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    down = resize_image(img, 2, 2)
    assert down.tolist() == [[0, 2], [8, 10]]
    up = resize_image(img, 8, 8)
    assert up.shape == (8, 8)
    # nearest-neighbor: every output pixel is an input pixel
    assert set(up.flatten().tolist()) <= set(img.flatten().tolist())
    # identity resize is exact
    assert np.array_equal(resize_image(img, 4, 4), img)


def test_video_frame_sample_chunks(spark, sf_dir):
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        FRAME_SIZE,
        FRAME_STRIDE,
        video_frame_sample,
    )
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, "documents", sf_dir).limit(25)
    n_bytes = {
        r.doc_id: r.n
        for r in docs.selectExpr(
            "doc_id", "length(encode(text, 'utf-8')) as n"
        ).collect()
    }
    rows = video_frame_sample(docs).collect()
    assert {r.doc_id for r in rows} == set(n_bytes)
    for r in rows:
        total = n_bytes[r.doc_id]
        n_frames = -(-total // FRAME_SIZE)
        assert r.frame_idx % FRAME_STRIDE == 0 and r.frame_idx < n_frames
        expect = min(FRAME_SIZE, total - r.frame_idx * FRAME_SIZE)
        assert r.frame_bytes == expect


def test_bgr_to_hsv_primary_colors():
    """cv2 HSV conventions: H in [0,180), primaries at 0/60/120."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        bgr_to_hsv,
    )

    img = np.array(
        [[[0, 0, 255], [0, 255, 0], [255, 0, 0], [128, 128, 128], [0, 0, 0]]],
        dtype=np.uint8,
    )  # red, green, blue (BGR), gray, black
    hsv = bgr_to_hsv(img)
    assert hsv[0, 0].tolist() == [0, 255, 255]  # red
    assert hsv[0, 1].tolist() == [60, 255, 255]  # green
    assert hsv[0, 2].tolist() == [120, 255, 255]  # blue
    assert hsv[0, 3].tolist() == [0, 0, 128]  # gray: no saturation
    assert hsv[0, 4].tolist() == [0, 0, 0]  # black


def test_gaussian_blur_properties():
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        _gaussian_kernel,
        gaussian_blur,
    )

    k = _gaussian_kernel(21)
    assert abs(k.sum() - 1.0) < 1e-12
    assert np.array_equal(k, k[::-1])  # symmetric
    # uniform image is a fixed point
    flat = np.full((30, 30, 3), 77, dtype=np.uint8)
    assert np.array_equal(gaussian_blur(flat), flat)
    # impulse response is symmetric and mass-preserving-ish
    imp = np.zeros((41, 41), dtype=np.uint8)
    imp[20, 20] = 255
    out = gaussian_blur(imp.astype(np.uint8)[..., None].repeat(3, -1), 5)
    assert np.array_equal(out, out[::-1, :, :])
    assert np.array_equal(out, out[:, ::-1, :])


def test_hsv_blur_match_cv2_when_present():
    import pytest

    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators import (
        multimodal as mm,
    )

    if not mm.HAS_CV2:
        pytest.skip("cv2 absent; numpy implementations carry the tests")
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (32, 24, 3), dtype=np.uint8)
    ours = mm.bgr_to_hsv(img).astype(int)
    ref = mm.cv2.cvtColor(img, mm.cv2.COLOR_BGR2HSV).astype(int)
    assert np.abs(ours - ref).max() <= 1
    b_ours = mm.gaussian_blur(img, 21).astype(int)
    b_ref = mm.cv2.GaussianBlur(img, (21, 21), 0).astype(int)
    assert np.abs(b_ours - b_ref).max() <= 1


def test_fire_pixel_scan_distributed(spark, sf_dir):
    """Distributed pixel path: deterministic, in-range, and equal to
    the driver-side composition on the same payloads."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        decode_image,
        fire_pixel_count,
        fire_pixel_scan,
    )

    docs = load_table(spark, "documents", sf_dir).limit(12)
    got = {r.doc_id: r.fire_pixels for r in fire_pixel_scan(docs).collect()}
    raw = {
        r.doc_id: bytes(r.payload)
        for r in docs.selectExpr(
            "doc_id", "encode(text, 'utf-8') AS payload"
        ).collect()
    }
    assert got == {
        d: fire_pixel_count(decode_image(buf)) for d, buf in raw.items()
    }


def test_bitwise_mask_apply_cv2_semantics():
    """P9 (reference main.py:165): AND is bitwise per channel, the
    single-channel mask gates ALL channels, zero elsewhere — matches
    cv2.bitwise_and(frame, hsv, mask=mask) when cv2 is present."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.multimodal import (
        bitwise_mask_apply,
        fire_mask_overlay,
    )

    rng = np.random.RandomState(7)
    frame = rng.randint(0, 256, size=(8, 9, 3), dtype=np.uint8)
    other = rng.randint(0, 256, size=(8, 9, 3), dtype=np.uint8)
    mask = (rng.randint(0, 2, size=(8, 9), dtype=np.uint8)) * 255

    out = bitwise_mask_apply(frame, other, mask)
    assert out.dtype == np.uint8 and out.shape == frame.shape
    # masked-off pixels are exactly zero; masked-on are frame AND other
    assert (out[mask == 0] == 0).all()
    assert np.array_equal(out[mask != 0], (frame & other)[mask != 0])

    try:
        import cv2
    except ImportError:
        cv2 = None
    if cv2 is not None:
        assert np.array_equal(
            out, cv2.bitwise_and(frame, other, mask=mask)
        )

    # the composed display path runs end-to-end and only lights pixels
    # inside the fire HSV band
    overlay = fire_mask_overlay(frame)
    assert overlay.shape == frame.shape and overlay.dtype == np.uint8
