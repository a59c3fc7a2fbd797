"""Pure-stdlib WAV codec — the audio arm of the multimodal column
conventions (SURVEY.md §1.2; BASELINE.json 'image/audio/video as
opaque binary columns').

Decode is real with zero external deps for the formats a controlled
pipeline emits — WAV/RIFF PCM (8/16/24/32-bit int, 32-bit float).
Every other WAV format (compressed or perceptual: G.711, ADPCM, MP3,
AAC, Opus) raises ValueError; those need a native decoder. The
registry's ``audio_pcm_features`` (plans/codec_parity.py) runs the
PCM16 round trip through this module.

ValueError contract: malformed buffers raise ValueError only (never
struct/index errors), pinned by the corruption fuzz test, so a corrupt
clip degrades instead of killing the task.
"""

from __future__ import annotations

import struct

import numpy as np

RIFF_MAGIC = b"RIFF"
WAVE_MAGIC = b"WAVE"
MAX_SAMPLES = 1 << 28  # ~268M samples (~100 min at 44.1 kHz): past this
# a corrupted header is far likelier than a real clip


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (float64 samples in [-1, 1] shaped (n, channels),
    sample_rate). PCM 8 (unsigned) / 16 / 24 / 32-bit and IEEE
    float32; raises ValueError for every other format."""
    try:
        return _decode_wav_inner(buf)
    except ValueError:
        raise
    except (struct.error, IndexError) as ex:
        raise ValueError(f"malformed WAV: {type(ex).__name__}") from ex


def _decode_wav_inner(buf: bytes) -> tuple[np.ndarray, int]:
    if len(buf) < 12 or buf[:4] != RIFF_MAGIC or buf[8:12] != WAVE_MAGIC:
        raise ValueError("not a WAV buffer")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        body = buf[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("short WAV fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks pad to even
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, _byte_rate, _block, bits = fmt
    if channels < 1 or channels > 16 or rate < 1:
        raise ValueError(f"refusing WAV layout ({channels} ch @ {rate} Hz)")
    if audio_fmt == 1:  # integer PCM
        if bits == 8:
            x = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            x = (x - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(data[: len(data) - len(data) % 3], dtype=np.uint8)
            raw = raw.reshape(-1, 3)
            vals = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            vals = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
            x = vals.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(data, dtype="<i4").astype(np.float64) / float(
                1 << 31
            )
        else:
            raise ValueError(f"unsupported WAV PCM bit depth {bits}")
    elif audio_fmt == 3:  # IEEE float
        if bits != 32:
            raise ValueError(f"unsupported WAV float bit depth {bits}")
        x = np.frombuffer(data, dtype="<f4").astype(np.float64)
    else:
        raise ValueError(f"unsupported WAV audio format {audio_fmt} "
                         "(perceptual codecs need a native decoder)")
    n = len(x) - len(x) % channels
    if n > MAX_SAMPLES:
        raise ValueError("WAV clip exceeds the decode sample cap")
    return x[:n].reshape(-1, channels), rate


def encode_wav(samples: np.ndarray, rate: int, bits: int = 16) -> bytes:
    """(n, channels) float in [-1, 1] → WAV bytes (PCM 16 or float32).
    Round-trip partner and test oracle."""
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    if bits == 16:
        fmt_code, sw = 1, 2
        pcm = np.clip(np.floor(samples * 32768.0 + 0.5), -32768, 32767)
        payload = pcm.astype("<i2").tobytes()
    elif bits == 32:
        fmt_code, sw = 3, 4
        payload = samples.astype("<f4").tobytes()
    else:
        raise ValueError("encode_wav writes 16-bit PCM or 32-bit float")
    hdr = b"fmt " + struct.pack(
        "<IHHIIHH", 16, fmt_code, channels, rate,
        rate * channels * sw, channels * sw, bits * 1,
    )
    data = b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        data += b"\x00"
    body = WAVE_MAGIC + hdr + data
    return RIFF_MAGIC + struct.pack("<I", len(body)) + body

