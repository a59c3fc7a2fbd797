"""Pure-stdlib PNG codec (zlib + numpy unfiltering) and the magic-byte
sniffer that ``decode_image`` (operators/multimodal.py) routes by.

The container deliberately ships no cv2/PIL, but byte→pixel decode
does not need them for the formats the registry's codec-parity plans
emit: PNG is zlib (stdlib) + five scanline filters; GIF and TIFF have
their own modules (gifcodec.py, tiffcodec.py). Any other format — JPEG
and BMP included — has no decoder here and falls to the deterministic
stub, unless cv2/PIL are installed.

Decoders return uint8 BGR (cv2 convention, matching the reference's
frames at main.py:143-149) so every downstream operator
(preprocess_blob, bgr_to_hsv, fire_pixel_count) is decoder-agnostic.

Scale note: these run inside Arrow-batched mapInPandas workers — one
Python call per image. PNG filters 0/2 unfilter as whole-row numpy
ops and filter 1 (Sub) as a vectorized per-channel cumsum mod 256;
filters 3/4 (Average/Paeth) are inherently sequential in x — each
pixel depends on the RECONSTRUCTED left neighbour — so they run as
Python-int loops over row lists (measured ~10x faster than per-pixel
numpy slicing at this granularity, but still O(width) Python ops per
such row). For pipelines dominated by Paeth-filtered PNGs, the native
decoder behind the cv2/PIL gate is the fast path.

PNG support: 8-bit depth, color types 0/2/3/4/6 (gray, RGB, palette,
gray+alpha, RGBA), non-interlaced. ``encode_png`` writes color type
2/0 with per-row filters — round-trip partner and test oracle.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
MAX_DIM = 32_768  # per-axis decode cap: past this a corrupted header is
# far likelier than a real frame, and the allocation guard matters more


def sniff_format(buf: bytes) -> str | None:
    """'png' | 'gif' | 'tiff' | None by magic bytes: the formats this
    package decodes."""
    if buf[:8] == PNG_MAGIC:
        return "png"
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return None


# --- PNG ----------------------------------------------------------------------


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a scanline (int16 domain so the
    |p − x| distances cannot wrap)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def decode_png(buf: bytes) -> np.ndarray:
    """PNG → uint8 BGR. Raises ValueError on malformed buffers or the
    (documented) unsupported corners: non-8-bit depth, interlacing."""
    if buf[:8] != PNG_MAGIC:
        raise ValueError("not a PNG buffer")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = None
    palette: np.ndarray | None = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if len(data) != 13:  # a corrupted length field would make
                # the unpack below leak struct.error past the
                # ValueError contract (caught by the hypothesis fuzz)
                raise ValueError("malformed PNG IHDR")
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth} (only 8)")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if color_type == 3 and palette is None:
        raise ValueError("palette PNG missing PLTE")
    if not (0 < width <= MAX_DIM and 0 < height <= MAX_DIM):
        raise ValueError(
            f"PNG dimensions {width}x{height} out of supported range "
            f"(corrupted header, or beyond the {MAX_DIM} per-axis cap)"
        )
    ch = _CHANNELS[color_type]
    stride = width * ch
    expect = height * (stride + 1)
    try:
        # decompressobj + max_length caps a decompression bomb (or a
        # corrupted-header size mismatch) at the expected pixel payload
        # instead of inflating unbounded into executor memory
        d = zlib.decompressobj()
        inflated = d.decompress(bytes(idat), expect)
        if d.unconsumed_tail or (d.decompress(b"", 1) if not d.eof else b""):
            raise ValueError("PNG IDAT inflates past the declared size")
    except zlib.error as exc:  # keep the documented ValueError contract
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    raw = np.frombuffer(inflated, dtype=np.uint8)
    if len(raw) != expect:
        raise ValueError("PNG pixel payload has wrong size")
    raw = raw.reshape(height, stride + 1)
    filters = raw[:, 0]
    img = np.zeros((height, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        line = raw[y, 1:]
        up = img[y - 1] if y else zero_row
        f = filters[y]
        if f == 0:
            img[y] = line
        elif f == 1:  # Sub: x_i = raw_i + x_{i-ch} — a per-channel
            # prefix sum mod 256; cumsum vectorizes the whole row
            img[y] = (
                line.reshape(-1, ch).cumsum(axis=0, dtype=np.uint32) % 256
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up
            img[y] = line + up
        elif f == 3:  # Average — inherently sequential in x (depends on
            # the reconstructed left pixel); Python-int loop over lists
            # beats per-pixel numpy slicing ~10x at this granularity
            cur = [0] * stride
            lb, ub = line.tolist(), up.tolist()
            for x in range(stride):
                left = cur[x - ch] if x >= ch else 0
                cur[x] = (lb[x] + ((left + ub[x]) >> 1)) & 0xFF
            img[y] = cur
        elif f == 4:  # Paeth — sequential like Average
            cur = [0] * stride
            lb, ub = line.tolist(), up.tolist()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = ub[x]
                c = ub[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (lb[x] + pred) & 0xFF
            img[y] = cur
        else:
            raise ValueError(f"unknown PNG filter {f}")
    px = img.reshape(height, width, ch)
    if color_type == 3:
        if int(px.max(initial=0)) >= len(palette):
            raise ValueError("palette PNG index out of PLTE range")
        rgb = palette[px[:, :, 0]]
    elif ch == 1:
        rgb = np.repeat(px, 3, axis=2)
    elif ch == 2:  # gray + alpha → drop alpha
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    elif ch == 4:  # RGBA → drop alpha
        rgb = px[:, :, :3]
    else:
        rgb = px
    return rgb[:, :, ::-1].copy()  # RGB → BGR


def encode_png(
    bgr: np.ndarray, filters: np.ndarray | int = 0, gray: bool = False
) -> bytes:
    """uint8 BGR (h, w, 3) → PNG bytes, color type 2 (or 0 with
    ``gray``, taking the blue channel). ``filters`` picks the per-row
    filter (scalar or per-row array, 0-4) — exercising every filter
    path makes this the round-trip oracle for :func:`decode_png`, and
    a real writer for pipeline sinks."""
    h, w = bgr.shape[:2]
    if gray:
        px = bgr[:, :, :1].copy()
        ch, ctype_col = 1, 0
    else:
        px = bgr[:, :, ::-1].copy()  # BGR → RGB
        ch, ctype_col = 3, 2
    frow = np.full(h, filters, dtype=np.uint8) if np.isscalar(filters) else np.asarray(filters, dtype=np.uint8)
    flat = px.reshape(h, w * ch)
    zero_row = np.zeros(w * ch, dtype=np.uint8)
    out_rows = []
    for y in range(h):
        cur = flat[y]
        up = flat[y - 1] if y else zero_row
        left = np.concatenate([np.zeros(ch, dtype=np.uint8), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.uint8), up[:-ch]])
        f = int(frow[y])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - up
        elif f == 3:
            enc = cur - (
                (left.astype(np.uint16) + up.astype(np.uint16)) // 2
            ).astype(np.uint8)
        elif f == 4:
            enc = cur - _paeth(left, up, upleft).astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out_rows.append(bytes([f]) + enc.tobytes())
    payload = zlib.compress(b"".join(out_rows))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype_col, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", payload)
        + chunk(b"IEND", b"")
    )

