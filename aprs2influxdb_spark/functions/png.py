"""Pure-stdlib PNG codec — the real in-container image path.

The container ships no media libraries, but PNG is zlib + per-row
byte filters, both reachable from the standard library.  This module
implements the actual format (RFC 2083): chunk framing, IDAT inflate,
reversal of all five scanline filters (None/Sub/Up/Average/Paeth),
palette expansion — so ``multimodal_features`` / ``multimodal_resize``
can run a REAL decode on real PNG bytes here, with Pillow only an
optional cross-check (tests/test_multimodal.py pins stdlib==PIL where
Pillow is importable).

Scope: 8-bit depth, color types 0/2/3/4/6, no interlace — the
overwhelmingly common case and everything Pillow's default PNG save
emits.  Anything else raises ``ValueError`` loudly rather than
decoding garbage.

The encoder exists for fixtures and sinks: deterministic output
(fixed zlib level), optional per-row filter selection so tests and
the oracle-gated roundtrip entry exercise every unfilter path.
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> (channels, mode)
_COLOR_TYPES = {0: (1, "L"), 2: (3, "RGB"), 3: (1, "P"), 4: (2, "LA"), 6: (4, "RGBA")}
_MODE_COLOR = {"L": 0, "RGB": 2, "RGBA": 6}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    the linear estimate a + b − c, ties resolved left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes) -> tuple[int, int, str, bytes]:
    """Decode a PNG blob → ``(width, height, mode, pixels)``.

    ``pixels`` is the flat row-major channel bytes for ``mode`` in
    {'L', 'LA', 'RGB', 'RGBA'} — palette images are expanded to RGB
    during decode (mode 'P' never escapes).  Raises ``ValueError`` on
    non-PNG input or unsupported variants (bit depth ≠ 8, interlace).
    """
    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    width = height = None
    color_type = None
    plte: bytes | None = None
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        chunk = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", chunk)
            )
            if bit_depth != 8:
                raise ValueError(f"unsupported PNG bit depth {bit_depth} (only 8)")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            if color_type not in _COLOR_TYPES:
                raise ValueError(f"unsupported PNG color type {color_type}")
        elif ctype == b"PLTE":
            plte = chunk
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    channels, mode = _COLOR_TYPES[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    out = bytearray(height * stride)
    prev = bytearray(stride)
    rp = 0
    for y in range(height):
        f = raw[rp]
        rp += 1
        row = bytearray(raw[rp:rp + stride])
        rp += stride
        if f == 1:  # Sub
            for i in range(channels, stride):
                row[i] = (row[i] + row[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                row[i] = (row[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y * stride:(y + 1) * stride] = row
        prev = row
    if mode == "P":
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        n_entries = len(plte) // 3
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            if idx >= n_entries:
                # an out-of-range index with a short slice assignment
                # would silently SHRINK the buffer and shift every
                # later pixel — decode garbage loudly instead
                raise ValueError(f"palette index {idx} out of PLTE range {n_entries}")
            rgb[i * 3:i * 3 + 3] = plte[idx * 3:idx * 3 + 3]
        return width, height, "RGB", bytes(rgb)
    return width, height, mode, bytes(out)


def encode_png(
    pixels: bytes, width: int, height: int, mode: str = "RGB",
    filters: list[int] | None = None,
) -> bytes:
    """Encode flat channel bytes into a PNG blob.  Deterministic
    (fixed zlib level 9).  ``filters`` optionally picks the scanline
    filter per row (cycled) — the fixture knob that makes a decode
    roundtrip exercise every unfilter branch; default all-0 (None)."""
    if mode not in _MODE_COLOR:
        raise ValueError(f"unsupported encode mode {mode!r}")
    channels = {"L": 1, "RGB": 3, "RGBA": 4}[mode]
    stride = width * channels
    if len(pixels) != height * stride:
        raise ValueError("pixel buffer size mismatch")
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride:(y + 1) * stride]
        f = filters[y % len(filters)] if filters else 0
        raw.append(f)
        if f == 0:
            raw += row
        elif f == 1:
            raw += bytes(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif f == 2:
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:
            raw += bytes(
                (row[i] - (((row[i - channels] if i >= channels else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        elif f == 4:
            raw += bytes(
                (row[i] - _paeth(
                    row[i - channels] if i >= channels else 0,
                    prev[i],
                    prev[i - channels] if i >= channels else 0,
                )) & 0xFF
                for i in range(stride)
            )
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        prev = row

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, _MODE_COLOR[mode], 0, 0, 0)
    idat = zlib.compress(bytes(raw), 9)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def to_gray(mode: str, pixels: bytes) -> bytes:
    """Channel bytes → 8-bit luma, with Pillow's exact ITU-R 601-2
    integer arithmetic (``L = (R·19595 + G·38470 + B·7471 + 2^15) >>
    16``) so the stdlib and PIL paths produce identical features.
    Alpha is discarded (Pillow's RGB(A)→L does the same)."""
    if mode == "L":
        return pixels
    if mode == "LA":
        return pixels[0::2]
    step = {"RGB": 3, "RGBA": 4}[mode]
    return bytes(
        (pixels[i] * 19595 + pixels[i + 1] * 38470 + pixels[i + 2] * 7471 + 0x8000) >> 16
        for i in range(0, len(pixels), step)
    )


def to_rgb(mode: str, pixels: bytes) -> bytes:
    """Channel bytes → flat RGB (alpha dropped, gray replicated) —
    Pillow ``convert('RGB')`` semantics for these modes."""
    if mode == "RGB":
        return pixels
    if mode == "RGBA":
        return bytes(b for i in range(0, len(pixels), 4) for b in pixels[i:i + 3])
    if mode == "L":
        return bytes(b for px in pixels for b in (px, px, px))
    if mode == "LA":
        return bytes(b for i in range(0, len(pixels), 2) for b in pixels[i:i + 1] * 3)
    raise ValueError(f"cannot convert mode {mode!r} to RGB")


def resize_nearest_rgb(
    rgb: bytes, src_w: int, src_h: int, dst_w: int, dst_h: int
) -> bytes:
    """NEAREST resample of a flat RGB buffer, with Pillow's center-
    sampling source mapping ``src = floor((dst + 0.5) · src/dst)``
    (clamped) so the stdlib and PIL resize paths emit identical
    tensors."""
    xs = [min(src_w - 1, int((x + 0.5) * src_w / dst_w)) for x in range(dst_w)]
    ys = [min(src_h - 1, int((y + 0.5) * src_h / dst_h)) for y in range(dst_h)]
    out = bytearray(dst_w * dst_h * 3)
    o = 0
    for sy in ys:
        base = sy * src_w * 3
        for sx in xs:
            p = base + sx * 3
            out[o:o + 3] = rgb[p:p + 3]
            o += 3
    return bytes(out)

