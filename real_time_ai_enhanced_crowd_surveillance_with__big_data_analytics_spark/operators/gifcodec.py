"""From-scratch GIF codec (GIF87a/89a): LZW decompression, global and
local palettes, interlacing — zero dependencies, pure integer spec
(CompuServe GIF89a specification, public).  Completes the lossless
pair next to PNG (operators/imagecodec.py) for the reference's
frame-decode path (main.py:129-171): the container formats a crawl or
camera pipeline actually meets.

Scope: the FIRST image frame, decoded to uint8 BGR like the other
codecs.  Animation frame composition (disposal methods, frame deltas)
is out of scope — frame-level sampling is operators/multimodal.py's
job.  Everything raises ValueError on malformed input (the corruption
containment contract shared by all codecs here, fuzz-tested).

The encoder twin writes a real variable-width LZW stream (with code
width growth and dictionary reset at 4096, the spec's limits) so the
decoder's width/reset handling is exercised by round-trip, not just
golden bytes.
"""

from __future__ import annotations

import struct

import numpy as np

GIF_MAGICS = (b"GIF87a", b"GIF89a")
MAX_DIM = 32_768  # shared with imagecodec: past this a corrupt header
# is indistinguishable from an allocation bomb


def _read_sub_blocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate GIF data sub-blocks starting at pos; returns
    (payload, next_pos past the 0x00 terminator)."""
    out = bytearray()
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated GIF sub-blocks")
        size = buf[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        if pos + size > n:
            raise ValueError("truncated GIF sub-block payload")
        out += buf[pos : pos + size]
        pos += size


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF-variant LZW: variable code width starting at min+1, CLEAR
    resets the dictionary, widths cap at 12 bits."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad GIF LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0

    # bit reader, LSB-first
    bitpos = 0
    total_bits = len(data) * 8

    def read_code(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > total_bits:
            raise ValueError("truncated GIF LZW stream")
        byte0 = bitpos >> 3
        chunk = int.from_bytes(
            data[byte0 : byte0 + 3].ljust(3, b"\x00"), "little"
        )
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        return code

    # dictionary: entries as (prefix_code, last_byte); roots are -1
    prefix = [-1] * 4096
    suffix = [0] * 4096
    for c in range(clear):
        suffix[c] = c

    def emit(code: int) -> bytes:
        chain = bytearray()
        c = code
        while c >= 0:
            chain.append(suffix[c])
            c = prefix[c]
        chain.reverse()
        return bytes(chain)

    width = min_code_size + 1
    next_code = end + 1
    prev = -1
    while n_out < n_pixels:
        code = read_code(width)
        if code == clear:
            width = min_code_size + 1
            next_code = end + 1
            prev = -1
            continue
        if code == end:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("GIF LZW: first code not a root")
            out[n_out] = code
            n_out += 1
            prev = code
            continue
        if code < next_code:
            chain = emit(code)
        elif code == next_code:
            chain = emit(prev) + emit(prev)[:1]
        else:
            raise ValueError("GIF LZW: code beyond dictionary")
        take = min(len(chain), n_pixels - n_out)
        out[n_out : n_out + take] = np.frombuffer(chain[:take], dtype=np.uint8)
        n_out += take
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = chain[0]
            next_code += 1
            if next_code < 4096 and next_code == (1 << width):
                width += 1
        prev = code
    if n_out < n_pixels:
        raise ValueError("GIF LZW stream ended before the frame filled")
    return out


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: np.ndarray, w: int, h: int) -> np.ndarray:
    rows = idx.reshape(h, w)
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out.reshape(-1)


def decode_gif(buf: bytes) -> np.ndarray:
    """GIF bytes → uint8 BGR (h, w, 3) of the first frame."""
    if len(buf) < 13 or buf[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF buffer")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", buf[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(buf):
            raise ValueError("truncated GIF global color table")
        gct = np.frombuffer(buf[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    while pos < len(buf):
        block = buf[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(buf):
                raise ValueError("truncated GIF extension")
            pos += 1
            _, pos = _read_sub_blocks(buf, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 9 > len(buf):
            raise ValueError("truncated GIF image descriptor")
        _left, _top, w, h, ipacked = struct.unpack(
            "<HHHHB", buf[pos : pos + 9]
        )
        pos += 9
        if not (0 < w <= MAX_DIM and 0 < h <= MAX_DIM):
            raise ValueError(f"refusing GIF dimensions {w}x{h}")
        if w * h > 64_000_000:
            raise ValueError("refusing oversized GIF frame")
        palette = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(buf):
                raise ValueError("truncated GIF local color table")
            palette = np.frombuffer(
                buf[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF frame has no color table")
        if pos >= len(buf):
            raise ValueError("truncated GIF before LZW header")
        min_code = buf[pos]
        pos += 1
        data, pos = _read_sub_blocks(buf, pos)
        idx = _lzw_decode(data, min_code, w * h)
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("GIF pixel index beyond palette")
        if ipacked & 0x40:
            idx = _deinterlace(idx, w, h)
        rgb = palette[idx].reshape(h, w, 3)
        return rgb[:, :, ::-1].copy()  # RGB → BGR like the other codecs
    raise ValueError("GIF contains no image frame")


# --- encoder twin --------------------------------------------------------------


def _lzw_encode(idx: np.ndarray, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([c]): c for c in range(clear)}
    next_code = end + 1
    put(clear, width)
    run = b""
    for px in idx.tolist():
        cand = run + bytes([px])
        if cand in table:
            run = cand
            continue
        put(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # the decoder's dictionary lags the encoder's by exactly
            # one entry (it can only build a pair once it has read the
            # NEXT code), so where the decoder widens at
            # next_code == 1<<width, the encoder widens one add later
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            put(clear, width)
            width = min_code_size + 1
            table = {bytes([c]): c for c in range(clear)}
            next_code = end + 1
        run = bytes([px])
    if run:
        put(table[run], width)
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    bgr: np.ndarray, interlace: bool = False
) -> bytes:
    """uint8 BGR (h, w, 3) → GIF89a bytes.  Builds the palette from the
    distinct colors (must be ≤ 256 — GIF is an indexed format; callers
    quantize first)."""
    h, w = bgr.shape[:2]
    rgb = bgr[:, :, ::-1].reshape(-1, 3)
    colors, inverse = np.unique(rgb, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif needs <= 256 distinct colors")
    depth = max(2, int(len(colors) - 1).bit_length())
    n_pal = 1 << depth
    palette = np.zeros((n_pal, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    idx = inverse.astype(np.uint8)
    if interlace:
        rows = idx.reshape(h, w)
        order = []
        for start, step in _INTERLACE_PASSES:
            order.extend(range(start, h, step))
        idx = rows[order].reshape(-1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += palette.tobytes()
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
    )
    min_code = depth
    out.append(min_code)
    payload = _lzw_encode(idx, min_code)
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
