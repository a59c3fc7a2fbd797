"""From-scratch baseline TIFF codec (TIFF 6.0, public Adobe spec):
IFD parsing in both byte orders, 8-bit grayscale and RGB, strip
layout, Compression=1 (none) and 32773 (PackBits RLE).  Completes the
scan-side container set next to PNG and GIF (operators/imagecodec.py,
gifcodec.py) — TIFF is what scanners, scientific capture, and geo
pipelines emit.

Scope guards mirror the other codecs: ValueError on every malformed
input (fuzz-tested containment), MAX_DIM / pixel-count caps so a
corrupt header cannot become an allocation bomb.  Tiled TIFF, LZW and
JPEG-in-TIFF, planar configuration 2, and sub-8-bit depths raise
ValueError (documented unsupported corners — the native gate class).

The encoder twin writes strip-based PackBits (or raw) output so the
decoder's strip walk and RLE branches are exercised by round-trip.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_DIM = 32_768
MAX_PIXELS = 64_000_000

_II = b"II*\x00"
_MM = b"MM\x00*"

# tag ids (TIFF 6.0 §8)
_WIDTH, _HEIGHT, _BPS, _COMPRESSION = 256, 257, 258, 259
_PHOTOMETRIC, _STRIP_OFFSETS, _SPP, _ROWS_PER_STRIP = 262, 273, 277, 278
_STRIP_COUNTS, _PLANAR = 279, 284

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _read_ifd_values(buf: bytes, entry: bytes, bo: str) -> list[int]:
    tag, typ, count = struct.unpack(bo + "HHI", entry[:8])
    if typ not in _TYPE_SIZES:
        raise ValueError(f"unsupported TIFF field type {typ}")
    size = _TYPE_SIZES[typ] * count
    if size <= 4:
        raw = entry[8 : 8 + size]
    else:
        (off,) = struct.unpack(bo + "I", entry[8:12])
        raw = buf[off : off + size]
        if len(raw) != size:
            raise ValueError("truncated TIFF out-of-line value")
    fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
    if fmt is None:
        raise ValueError(f"unsupported TIFF value type {typ}")
    return list(struct.unpack(bo + fmt * count, raw))


def _packbits_decode(data: bytes, expect: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expect:
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1 bytes
            if i + c + 1 > n:
                raise ValueError("truncated PackBits literal")
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:  # replicate next byte 257-c times
            if i >= n:
                raise ValueError("truncated PackBits replicate")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    if len(out) < expect:
        raise ValueError("PackBits strip ended short")
    return bytes(out[:expect])


def decode_tiff(buf: bytes) -> np.ndarray:
    """TIFF bytes → uint8 BGR (h, w, 3), first IFD."""
    if len(buf) < 8 or buf[:4] not in (_II, _MM):
        raise ValueError("not a TIFF buffer")
    bo = "<" if buf[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(bo + "I", buf[4:8])
    if ifd_off + 2 > len(buf):
        raise ValueError("truncated TIFF IFD offset")
    (n_entries,) = struct.unpack(bo + "H", buf[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        off = ifd_off + 2 + 12 * k
        entry = buf[off : off + 12]
        if len(entry) != 12:
            raise ValueError("truncated TIFF IFD entry")
        tag = struct.unpack(bo + "H", entry[:2])[0]
        if tag in (
            _WIDTH, _HEIGHT, _BPS, _COMPRESSION, _PHOTOMETRIC,
            _STRIP_OFFSETS, _SPP, _ROWS_PER_STRIP, _STRIP_COUNTS, _PLANAR,
        ):
            tags[tag] = _read_ifd_values(buf, entry, bo)
    for req in (_WIDTH, _HEIGHT, _STRIP_OFFSETS, _STRIP_COUNTS):
        if req not in tags:
            raise ValueError(f"TIFF missing required tag {req}")
    for tag, vals in tags.items():
        # a present tag with count 0 (seen from single-bit corruption
        # of the count field) would IndexError every `[0]` read below
        if not vals:
            raise ValueError(f"TIFF tag {tag} has zero values")
    w, h = tags[_WIDTH][0], tags[_HEIGHT][0]
    if not (0 < w <= MAX_DIM and 0 < h <= MAX_DIM) or w * h > MAX_PIXELS:
        raise ValueError(f"refusing TIFF dimensions {w}x{h}")
    spp = tags.get(_SPP, [1])[0]
    if spp not in (1, 3):
        raise ValueError(f"unsupported TIFF samples/pixel {spp}")
    bps = tags.get(_BPS, [8] * spp)
    if any(b != 8 for b in bps):
        raise ValueError(f"unsupported TIFF bit depth {bps}")
    comp = tags.get(_COMPRESSION, [1])[0]
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if tags.get(_PLANAR, [1])[0] != 1:
        raise ValueError("unsupported TIFF planar configuration")
    rows_per_strip = tags.get(_ROWS_PER_STRIP, [h])[0] or h
    offsets, counts = tags[_STRIP_OFFSETS], tags[_STRIP_COUNTS]
    if len(offsets) != len(counts):
        raise ValueError("TIFF strip offset/count mismatch")
    row_bytes = w * spp
    out = bytearray()
    remaining = h
    for off, cnt in zip(offsets, counts):
        strip = buf[off : off + cnt]
        if len(strip) != cnt:
            raise ValueError("truncated TIFF strip")
        rows = min(rows_per_strip, remaining)
        expect = rows * row_bytes
        out += strip[:expect] if comp == 1 else _packbits_decode(strip, expect)
        if comp == 1 and len(strip) < expect:
            raise ValueError("TIFF strip shorter than its rows")
        remaining -= rows
    if remaining > 0 or len(out) < h * row_bytes:
        raise ValueError("TIFF strips do not cover the image")
    px = np.frombuffer(bytes(out[: h * row_bytes]), dtype=np.uint8).reshape(
        h, w, spp
    )
    if spp == 1:
        px = np.repeat(px, 3, axis=2)
    return px[:, :, ::-1].copy()  # RGB → BGR convention


# --- encoder twin --------------------------------------------------------------


def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        # find run length at i
        j = i
        while j + 1 < n and row[j + 1] == row[i] and j - i < 126:
            j += 1
        run = j - i + 1
        if run >= 2:
            out += bytes([257 - run, row[i]])
            i = j + 1
        else:
            # literal until next run of >= 3 or 128 bytes
            k = i
            while (
                k < n
                and k - i < 128
                and not (
                    k + 2 < n and row[k] == row[k + 1] == row[k + 2]
                )
            ):
                k += 1
            out += bytes([k - i - 1]) + row[i:k]
            i = k
    return bytes(out)


def encode_tiff(
    bgr: np.ndarray,
    packbits: bool = True,
    big_endian: bool = False,
    gray: bool = False,
    rows_per_strip: int = 4,
) -> bytes:
    """uint8 BGR (h, w, 3) → TIFF bytes (strip layout, PackBits or raw,
    either byte order; ``gray`` writes 1 sample/pixel from the blue
    channel)."""
    bo = ">" if big_endian else "<"
    h, w = bgr.shape[:2]
    px = bgr[:, :, :1] if gray else bgr[:, :, ::-1]
    spp = px.shape[2]
    raw = px.reshape(h, w * spp).tobytes()
    row_bytes = w * spp
    strips = []
    for y0 in range(0, h, rows_per_strip):
        rows = min(rows_per_strip, h - y0)
        chunk = raw[y0 * row_bytes : (y0 + rows) * row_bytes]
        strips.append(_packbits_encode(chunk) if packbits else chunk)

    n_tags = 10
    header = (b"II*\x00" if not big_endian else b"MM\x00*") + struct.pack(
        bo + "I", 8
    )
    ifd_size = 2 + 12 * n_tags + 4
    # layout: header(8) + IFD + bps array (6 bytes, only if spp==3) +
    # offsets/counts arrays + strip data
    extra_off = 8 + ifd_size
    bps_off = extra_off
    if spp == 3:
        extra_off += 6
    n_strips = len(strips)
    arrays_inline = n_strips <= 1
    offsets_off, counts_off = extra_off, extra_off + 4 * n_strips
    data_off = extra_off + (0 if arrays_inline else 8 * n_strips)
    strip_offsets, pos = [], data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        # inline values are LEFT-justified in the 4-byte field: a SHORT
        # under MM byte order must occupy the first two bytes, so pack
        # it as HH, not as a 4-byte int (which would right-justify it)
        head = struct.pack(bo + "HHI", tag, typ, count)
        if typ == 3 and count == 1:
            return head + struct.pack(bo + "HH", value, 0)
        return head + struct.pack(bo + "I", value)

    entries = [
        entry(_WIDTH, 4, 1, w),
        entry(_HEIGHT, 4, 1, h),
        (
            entry(_BPS, 3, 3, bps_off)
            if spp == 3
            else struct.pack(bo + "HHI", _BPS, 3, 1) + struct.pack(bo + "HH", 8, 0)
        ),
        entry(_COMPRESSION, 3, 1, 32773 if packbits else 1),
        entry(_PHOTOMETRIC, 3, 1, 2 if spp == 3 else 1),
        (
            entry(_STRIP_OFFSETS, 4, n_strips, offsets_off)
            if not arrays_inline
            else entry(_STRIP_OFFSETS, 4, 1, strip_offsets[0])
        ),
        entry(_SPP, 3, 1, spp),
        entry(_ROWS_PER_STRIP, 4, 1, rows_per_strip),
        (
            entry(_STRIP_COUNTS, 4, n_strips, counts_off)
            if not arrays_inline
            else entry(_STRIP_COUNTS, 4, 1, len(strips[0]))
        ),
        entry(_PLANAR, 3, 1, 1),
    ]
    out = bytearray(header)
    out += struct.pack(bo + "H", n_tags)
    for e in sorted(entries, key=lambda e: struct.unpack(bo + "H", e[:2])[0]):
        out += e
    out += struct.pack(bo + "I", 0)  # next IFD
    if spp == 3:
        out += struct.pack(bo + "HHH", 8, 8, 8)
    if not arrays_inline:
        out += struct.pack(bo + f"{n_strips}I", *strip_offsets)
        out += struct.pack(bo + f"{n_strips}I", *(len(s) for s in strips))
    for s in strips:
        out += s
    return bytes(out)
