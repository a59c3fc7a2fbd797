"""WAV codec (operators/audiocodec.py): round-trip exactness per bit
depth, refusal of every non-PCM format, and ValueError containment
under corruption."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.operators.audiocodec import (
    decode_wav,
    encode_wav,
)


def _sine(freq: float, rate: int = 8000, secs: float = 0.5) -> np.ndarray:
    t = np.arange(int(rate * secs)) / rate
    return np.sin(2 * np.pi * freq * t)


def test_roundtrip_16bit_exact_quantization():
    x = _sine(440)[:, None]
    buf = encode_wav(x, 8000, bits=16)
    y, rate = decode_wav(buf)
    assert rate == 8000 and y.shape == x.shape
    assert np.abs(y - x).max() <= 1.5 / 32768  # one quantization step


def test_roundtrip_float32_near_exact():
    x = np.stack([_sine(440), _sine(880)], axis=1)  # stereo
    y, rate = decode_wav(encode_wav(x, 44100, bits=32))
    assert y.shape == x.shape
    assert np.abs(y - x).max() <= 1e-6  # float32 representation only


def test_pcm_24bit_decode():
    """Hand-build a 24-bit data chunk; decode must sign-extend."""
    import struct

    vals = [0, 1 << 22, -(1 << 22), (1 << 23) - 1, -(1 << 23)]
    raw = b"".join(
        struct.pack("<i", v)[:3] for v in vals
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000 * 3, 3, 24)
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    y, rate = decode_wav(buf)
    got = (y[:, 0] * (1 << 23)).round().astype(int).tolist()
    assert got == vals


@pytest.mark.parametrize(
    "audio_fmt,bits",
    [(85, 0), (6, 8), (7, 8), (0x11, 4)],
    ids=["mp3", "alaw", "mulaw", "ima_adpcm"],
)
def test_unsupported_formats_raise_valueerror(audio_fmt, bits):
    """MP3 in a RIFF wrapper, G.711 A-law/mu-law and IMA ADPCM, each with
    the bit depth its format declares: refused, never decoded."""
    import struct

    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, audio_fmt, 2, 44100, 0, 0, bits)
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="unsupported WAV audio format"):
        decode_wav(buf)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF")
    with pytest.raises(ValueError):
        decode_wav(b"not audio")


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 8))
def test_corrupted_wav_never_leaks_foreign_exceptions(seed, n_flips):
    rng = np.random.RandomState(seed)
    x = rng.uniform(-1, 1, size=(64, 1))
    buf = bytearray(encode_wav(x, 8000, bits=16))
    for _ in range(n_flips):
        pos = int(rng.randint(4, len(buf)))
        buf[pos] = int(rng.randint(0, 256))
    if rng.randint(0, 2):
        buf = buf[: int(rng.randint(5, len(buf)))]
    try:
        y, rate = decode_wav(bytes(buf))
        assert y.ndim == 2 and rate >= 1
    except ValueError:
        pass
