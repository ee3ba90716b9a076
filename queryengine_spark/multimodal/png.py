"""Real PNG decode, no media libraries: PNG's pixel path is zlib
(stdlib) + per-scanline prediction filters (pure arithmetic), so —
like the BMP/WAV paths in ``multimodal/bmp.py`` — the FULL pipeline
runs for real in this sandbox: synthesize spec-valid container bytes
→ ship as a binary column → walk chunks (CRC-checked) → inflate IDAT
→ reconstruct scanlines through all five PNG filter types → aggregate
exact integer channel statistics.

The synthesizer deliberately stresses the decoder: every scanline is
encoded with filter type ``y % 5`` (None, Sub, Up, Average, Paeth),
and the compressed stream is split across two IDAT chunks, so chunk
reassembly and every unfilter branch are exercised on every asset.
The DuckDB oracle recomputes the expected channel sums FROM THE
SYNTHESIS FORMULA while Spark computes them FROM THE DECODED BYTES —
a hash match certifies filter reconstruction (including the Paeth
predictor), chunk walking, and RGBA byte order end-to-end. The
decoder is additionally pinned against a hand-filtered byte vector in
tests/test_multimodal_png.py, so an encoder/decoder bug pair cannot
cancel out.

Reference parity note: the reference engine (rickbeeloo/QueryEngine)
has no media path at all; this extends the brief's multimodal pillar
with a decoder that needs nothing beyond the Python stdlib + numpy.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

#: deterministic synthesis parameters (mirrored in the oracle SQL —
#: keep in sync with queries/addenda.py::MULTIMODAL_PNG_DECODE_SQL)
PNG2_W_MOD, PNG2_H_MOD = 11, 7

_SIG = b"\x89PNG\r\n\x1a\n"


def png_rgba_params(asset_id: int) -> tuple[int, int]:
    return 4 + asset_id % PNG2_W_MOD, 4 + asset_id % PNG2_H_MOD


def _pixel(asset_id: int, x: int, y: int) -> tuple[int, int, int, int]:
    """(r, g, b, a) of the synthetic image — the formula the oracle
    re-computes symbolically."""
    return (
        (x * y + asset_id) % 256,
        (asset_id + 2 * y) % 256,
        (asset_id + 3 * x) % 256,
        (x + y + asset_id) % 256,
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_row(ftype: int, raw: bytes, prev: bytes, bpp: int = 4) -> bytes:
    """Apply PNG filter ``ftype`` to one raw scanline (encoder side)."""
    out = bytearray(len(raw))
    for i in range(len(raw)):
        left = raw[i - bpp] if i >= bpp else 0
        up = prev[i]
        ul = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        else:
            pred = _paeth(left, up, ul)
        out[i] = (raw[i] - pred) % 256
    return bytes(out)


def _unfilter_row(ftype: int, filt: bytes, prev: bytes, bpp: int = 4) -> bytes | None:
    """Reconstruct one scanline (decoder side — inverse of
    :func:`_filter_row`; sequential because Sub/Average/Paeth depend
    on already-reconstructed left neighbors)."""
    if ftype > 4:
        return None
    out = bytearray(len(filt))
    for i in range(len(filt)):
        left = out[i - bpp] if i >= bpp else 0
        up = prev[i]
        ul = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        else:
            pred = _paeth(left, up, ul)
        out[i] = (filt[i] + pred) % 256
    return bytes(out)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def make_png_rgba(asset_id: int) -> bytes:
    """Complete spec-valid 8-bit RGBA PNG with deterministic pixels,
    per-row filter type y % 5, and the deflate stream split across
    two IDAT chunks."""
    w, h = png_rgba_params(asset_id)
    prev = bytes(w * 4)
    stream = bytearray()
    for y in range(h):
        raw = bytes(
            v for x in range(w) for v in _pixel(asset_id, x, y)
        )
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 8, 6, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


#: grayscale synthesis formula constants (mirrored in the oracle)
GRAY_X_MULT, GRAY_Y_MULT = 3, 5


def _gray_pixel(asset_id: int, x: int, y: int) -> int:
    return (GRAY_X_MULT * x + GRAY_Y_MULT * y + asset_id) % 256


def make_png_gray(asset_id: int) -> bytes:
    """Complete spec-valid 8-bit GRAYSCALE PNG (color type 0, r5
    decoder-breadth extension): same dims as the RGBA twin, per-row
    filter type y % 5 with bpp=1 (the Sub/Average/Paeth left
    neighbor is ONE byte back, a different arithmetic path than
    RGBA's bpp=4), deflate stream split across two IDAT chunks."""
    w, h = png_rgba_params(asset_id)
    prev = bytes(w)
    stream = bytearray()
    for y in range(h):
        raw = bytes(_gray_pixel(asset_id, x, y) for x in range(w))
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev, bpp=1)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 8, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


#: 16-BIT grayscale synthesis constants (r6; mirrored in the oracle)
GRAY16_X, GRAY16_Y, GRAY16_A = 449, 1021, 257


def _gray16_pixel(asset_id: int, x: int, y: int) -> int:
    return (GRAY16_X * x + GRAY16_Y * y + GRAY16_A * asset_id) % 65536


def make_png_gray16(asset_id: int) -> bytes:
    """Complete spec-valid 16-BIT grayscale PNG (color type 0, bit
    depth 16 — the photography/scientific profile, r6): big-endian
    two-byte samples, per-row filter type y % 5 with bpp=2 (PNG
    filters operate BYTEWISE with the left neighbor ceil(depth/8)
    bytes back — a sample's low byte filters against the previous
    sample's low byte, its high byte against the previous high byte),
    deflate stream split across two IDAT chunks."""
    w, h = png_rgba_params(asset_id)
    prev = bytes(w * 2)
    stream = bytearray()
    for y in range(h):
        raw = b"".join(
            struct.pack(">H", _gray16_pixel(asset_id, x, y)) for x in range(w)
        )
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev, bpp=2)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 16, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


#: Adam7 pass geometry (PNG spec 4.5.2): (x0, y0, dx, dy) per pass —
#: each pass is an INDEPENDENTLY FILTERED sub-image (its first row's
#: "up" neighbor is zero, not the previous pass's last row)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_pass_dims(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """(x0, y0, dx, dy, pass_w, pass_h) per NON-EMPTY pass — a pass
    with zero width or height contributes no scanlines at all (spec:
    empty passes are entirely absent from the datastream)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


#: paletted-leg formula constants (r6, mirrored in the oracle):
#: palette entry i → (RM·i + asset_id, GM·i + 7, BM·i + 2·asset_id)
#: mod 256; pixel index formula below. Distinct from the GIF palette
#: constants so a cross-wired palette read can't accidentally match.
PAL3_RM, PAL3_GM, PAL3_BM = 11, 23, 31
PAL3_IDX_XM, PAL3_IDX_YM = 7, 13


def _pal3_index(asset_id: int, x: int, y: int) -> int:
    return (PAL3_IDX_XM * x + PAL3_IDX_YM * y + asset_id) % 256


def make_png_palette(asset_id: int) -> bytes:
    """Complete spec-valid 8-bit PALETTED PNG (color type 3, r6):
    a full 256-entry PLTE built from the palette formula, index
    pixels from the index formula, per-row filter type y % 5 with
    bpp=1, deflate stream split across two IDAT chunks. The decoder
    must compose palette[index] — the oracle recomputes that
    composition symbolically, so reading indices as pixels (or the
    wrong palette) breaks the hash."""
    w, h = png_rgba_params(asset_id)
    plte = bytes(
        v
        for i in range(256)
        for v in (
            (PAL3_RM * i + asset_id) % 256,
            (PAL3_GM * i + 7) % 256,
            (PAL3_BM * i + 2 * asset_id) % 256,
        )
    )
    prev = bytes(w)
    stream = bytearray()
    for y in range(h):
        raw = bytes(_pal3_index(asset_id, x, y) for x in range(w))
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev, bpp=1)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 8, 3, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_rgb8(asset_id: int) -> bytes:
    """Complete spec-valid 8-bit TRUECOLOR PNG (color type 2, r9 —
    the most common web PNG profile after palette): the SAME r/g/b
    formulas as the RGBA leg with no alpha plane, per-row filter type
    y % 5 with bpp=3 (the Sub/Average/Paeth left neighbor is THREE
    bytes back — a distinct arithmetic path from both RGBA's 4 and
    gray's 1), deflate stream split across two IDAT chunks."""
    w, h = png_rgba_params(asset_id)
    prev = bytes(w * 3)
    stream = bytearray()
    for y in range(h):
        raw = bytes(
            v for x in range(w) for v in _pixel(asset_id, x, y)[:3]
        )
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev, bpp=3)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


#: 16-bit truecolor synthesis constants (r9; mirrored in the oracle).
#: Each channel's hi and lo bytes differ (the multipliers are not
#: ×257 replication), so a byte-swapped decode breaks the sums.
RGB16_R = (331, 227, 1)
RGB16_G = (3, 509, 257)
RGB16_B = (769, 131, 5)


def _rgb16_pixel(asset_id: int, x: int, y: int) -> tuple[int, int, int]:
    return tuple(
        (mx * x + my * y + ma * asset_id) % 65536
        for mx, my, ma in (RGB16_R, RGB16_G, RGB16_B)
    )


def make_png_rgb16(asset_id: int) -> bytes:
    """Complete spec-valid 16-BIT TRUECOLOR PNG (color type 2, bit
    depth 16 — the photography/print export profile, r9): big-endian
    sample pairs, three channels, per-row filter type y % 5 with
    bpp=6 (PNG filters stay BYTEWISE: a sample's low byte filters
    against the previous PIXEL's same-channel low byte six bytes
    back), deflate stream split across two IDAT chunks."""
    w, h = png_rgba_params(asset_id)
    prev = bytes(w * 6)
    stream = bytearray()
    for y in range(h):
        raw = b"".join(
            struct.pack(">3H", *_rgb16_pixel(asset_id, x, y)) for x in range(w)
        )
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev, bpp=6)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 16, 2, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_gray_adam7(asset_id: int) -> bytes:
    """8-bit grayscale PNG with Adam7 INTERLACE (r6): the SAME
    _gray_pixel image as make_png_gray, stored in 7-pass order —
    each non-empty pass independently filtered (row filter = pass-row
    % 5). The decoded output must equal the sequential twin
    pixel-for-pixel; the query's position-WEIGHTED checksum column
    certifies the deinterlace scatter in the oracle hash (a plain sum
    is permutation-invariant and would miss a misplaced pass)."""
    w, h = png_rgba_params(asset_id)
    stream = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
        prev = bytes(pw)
        for ry in range(ph):
            raw = bytes(
                _gray_pixel(asset_id, x0 + rx * dx, y0 + ry * dy)
                for rx in range(pw)
            )
            f = ry % 5
            stream.append(f)
            stream += _filter_row(f, raw, prev, bpp=1)
            prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 8, 0, 0, 0, 1)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_gray1(asset_id: int) -> bytes:
    """1-BIT grayscale PNG (depth 1, r9 — the fax/mask shape): the
    gray formula mod 2, eight samples packed MSB-first per byte with
    the final byte zero-padded (PNG 7.2), per-row filter y % 5 at the
    BYTE granularity (bpp=1 for all sub-byte depths)."""
    w, h = png_rgba_params(asset_id)
    row_bytes = (w + 7) // 8
    prev = bytes(row_bytes)
    stream = bytearray()
    for y in range(h):
        bits = [_gray_pixel(asset_id, x, y) % 2 for x in range(w)]
        bits += [0] * (-len(bits) % 8)
        raw = bytes(
            sum(bit << (7 - k) for k, bit in enumerate(bits[i : i + 8]))
            for i in range(0, len(bits), 8)
        )
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev, bpp=1)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 1, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_gray1_adam7(asset_id: int) -> bytes:
    """1-BIT grayscale PNG stored Adam7-INTERLACED (r10 — the
    interlaced fax/mask combination): the SAME mod-2 image as
    make_png_gray1 in 7-pass order, each pass packing ITS OWN rows
    MSB-first (the zero padding falls at pass-row boundaries, where
    a sequential-minded unpacker reads garbage), independently
    filtered at byte granularity."""
    w, h = png_rgba_params(asset_id)
    stream = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
        row_bytes = (pw + 7) // 8
        prev = bytes(row_bytes)
        for ry in range(ph):
            bits = [
                _gray_pixel(asset_id, x0 + rx * dx, y0 + ry * dy) % 2
                for rx in range(pw)
            ]
            bits += [0] * (-len(bits) % 8)
            raw = bytes(
                sum(bit << (7 - k) for k, bit in enumerate(bits[i : i + 8]))
                for i in range(0, len(bits), 8)
            )
            f = ry % 5
            stream.append(f)
            stream += _filter_row(f, raw, prev, bpp=1)
            prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 1, 0, 0, 0, 1)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_palette4(asset_id: int) -> bytes:
    """4-BIT PALETTED PNG (depth 4, r9 — the small-palette web
    shape): a 16-entry PLTE from the same palette formulas, the index
    formula mod 16, two indices per byte high-nibble-first, filters
    at byte granularity."""
    w, h = png_rgba_params(asset_id)
    plte = bytes(
        v
        for i in range(16)
        for v in (
            (PAL3_RM * i + asset_id) % 256,
            (PAL3_GM * i + 7) % 256,
            (PAL3_BM * i + 2 * asset_id) % 256,
        )
    )
    prev = bytes((w + 1) // 2)
    stream = bytearray()
    for y in range(h):
        idxs = [_pal3_index(asset_id, x, y) % 16 for x in range(w)]
        idxs += [0] * (len(idxs) % 2)
        raw = bytes(
            (idxs[i] << 4) | idxs[i + 1] for i in range(0, len(idxs), 2)
        )
        f = y % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev, bpp=1)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 4, 3, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_rgba_adam7(asset_id: int) -> bytes:
    """8-bit RGBA with Adam7 INTERLACE (r9): the SAME _pixel image as
    make_png_rgba in 7-pass order at bpp=4 — the COLOR deinterlace
    twin of make_png_gray_adam7. The plain channel sums cannot see a
    misplaced pass (they are permutation-invariant), so the oracle's
    position-weighted wsum is what certifies the scatter."""
    w, h = png_rgba_params(asset_id)
    stream = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
        prev = bytes(pw * 4)
        for ry in range(ph):
            raw = bytes(
                v
                for rx in range(pw)
                for v in _pixel(asset_id, x0 + rx * dx, y0 + ry * dy)
            )
            f = ry % 5
            stream.append(f)
            stream += _filter_row(f, raw, prev, bpp=4)
            prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 8, 6, 0, 0, 1)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_ga_adam7(asset_id: int) -> bytes:
    """8-bit GRAY+ALPHA PNG (color type 4, r9 — the last undecoded
    color type) stored Adam7-INTERLACED: gray from the grayscale
    formula, alpha from the RGBA leg's alpha formula, 7 independently
    filtered passes at bpp=2."""
    w, h = png_rgba_params(asset_id)
    stream = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
        prev = bytes(pw * 2)
        for ry in range(ph):
            raw = bytes(
                v
                for rx in range(pw)
                for v in (
                    _gray_pixel(asset_id, x0 + rx * dx, y0 + ry * dy),
                    (x0 + rx * dx + y0 + ry * dy + asset_id) % 256,
                )
            )
            f = ry % 5
            stream.append(f)
            stream += _filter_row(f, raw, prev, bpp=2)
            prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 8, 4, 0, 0, 1)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def make_png_gray16_adam7(asset_id: int) -> bytes:
    """16-BIT grayscale PNG stored Adam7-INTERLACED (r10 — the last
    PNG refusal closed): the SAME _gray16_pixel image as the
    sequential leg in 7-pass order, each pass independently filtered
    at bpp=2 (a sample's low byte filters against the previous
    SAMPLE's low byte — the bytewise rule of make_png_gray16 — while
    the pass scatter is the geometry of make_png_gray_adam7).
    Identical sums to the sequential leg by construction; the
    position-weighted wsum is what catches a misplaced pass."""
    w, h = png_rgba_params(asset_id)
    stream = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
        prev = bytes(pw * 2)
        for ry in range(ph):
            raw = b"".join(
                struct.pack(
                    ">H", _gray16_pixel(asset_id, x0 + rx * dx, y0 + ry * dy)
                )
                for rx in range(pw)
            )
            f = ry % 5
            stream.append(f)
            stream += _filter_row(f, raw, prev, bpp=2)
            prev = raw
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    ihdr = struct.pack(">II5B", w, h, 16, 0, 0, 0, 1)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])
        + _chunk(b"IEND", b"")
    )


def decode_png(b: bytes) -> np.ndarray | None:
    """bytes → (h, w, 4) uint8 RGBA for color type 6, (h, w)
    grayscale for color type 0 (r5), (h, w, 3) RGB for PALETTED
    color type 3 (r6 — indices mapped through the PLTE chunk, an
    index beyond the palette is REFUSED like BMP's out-of-range
    path) or TRUECOLOR color type 2 at 8-/16-bit (r9), and (h, w, 2)
    GRAY+ALPHA for color type 4 (r9 — every PNG color type now
    decodes). Sequential and Adam7-INTERLACED (r6) datastreams both
    decode: each Adam7 pass is reconstructed as an independent
    sub-image (own filter context) and scattered to (x0 + i·dx,
    y0 + j·dy); r10 composes the byte-granular pass machinery with
    16-bit sample pairing, so interlaced 16-bit decodes too and the
    refusal list is empty (depth-16 type 3 refuses by SPEC — palette
    indices are ≤ 8 bits). Walks chunks with CRC verification,
    reassembles multi-chunk IDAT, inflates, and runs the full
    scanline reconstruction (all 5 filter types, correct
    bytes-per-pixel offset per color type).

    Sample-scale CONTRACT (r9 ADVICE): values are returned at their
    STORED precision, never rescaled — 8-bit legs yield 0..255,
    16-bit legs 0..65535, and SUB-BYTE grayscale (depth 1/2/4) the
    raw 0..2^depth−1 codes. A consumer comparing gray statistics
    across depth legs must normalize itself (the oracles recompute
    each leg's formula at the same stored scale, which is why the
    hashes match without any scaling here)."""
    if not b.startswith(_SIG):
        return None
    pos = len(_SIG)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + clen]
        if len(body) != clen or pos + 12 + clen > len(b):
            return None
        (crc,) = struct.unpack(">I", b[pos + 8 + clen : pos + 12 + clen])
        if crc != zlib.crc32(ctype + body) & 0xFFFFFFFF:
            return None
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or len(ihdr) != 13 or not idat:
        return None
    w, h, depth, ctype_, comp, filt, interlace = struct.unpack(">II5B", ihdr)
    if ctype_ not in (0, 2, 3, 4, 6) or (comp, filt) != (0, 0):
        return None
    if depth == 16:
        # r6: 16-bit grayscale; r9 adds 16-bit TRUECOLOR (48 bpp, the
        # photography export profile); r10 composes the byte-granular
        # Adam7 pass machinery with the sample pairing, so EVERY
        # 16-bit color type decodes, sequential or interlaced — the
        # PNG refusal list is empty. Only type 3 refuses: palette
        # indices are at most 8 bits by spec (PNG 11.2.2).
        if ctype_ == 3:
            return None
    elif depth in (1, 2, 4):
        # r9: SUB-BYTE depths (the fax-mask and small-palette
        # shapes) for gray/paletted; r10: sequential AND interlaced
        # (each Adam7 pass packs its own bit rows); filters stay
        # byte-granular (bpp=1) per PNG 7.2/9
        if ctype_ not in (0, 3):
            return None
    elif depth != 8:
        return None
    if interlace not in (0, 1):
        return None
    if w <= 0 or h <= 0 or w > 1 << 16 or h > 1 << 16:
        return None
    if ctype_ == 3 and (
        plte is None or len(plte) == 0 or len(plte) % 3 or len(plte) > 768
    ):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    # bytewise filter offset = bytes per pixel (PNG 6.2): channel
    # count per color type × bytes per sample — RGBA8 → 4, RGB8 → 3,
    # RGB16 → 6, gray16 → 2, gray8/paletted → 1
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype_]
    bpp = channels * (2 if depth == 16 else 1)
    if depth in (1, 2, 4):
        # sub-byte rows: 1 filter byte + ceil(row_w·depth/8) data
        # bytes per scanline (each Adam7 pass packs ITS OWN rows, so
        # the bit padding falls at pass-row boundaries — r10);
        # unfilter at byte granularity, then unpack MSB-first and
        # drop the final byte's zero padding
        weights = 1 << np.arange(depth - 1, -1, -1)

        def sub_rows(row_w: int, n_rows: int, off: int):
            """Unfilter + bit-unpack n_rows scanlines of row_w
            samples starting at stream offset off → (rows, next
            offset) or None."""
            row_bytes = (row_w * depth + 7) // 8
            prev = bytes(row_bytes)
            out = []
            for _ in range(n_rows):
                if off + 1 + row_bytes > len(raw):
                    return None
                rec = _unfilter_row(
                    raw[off], raw[off + 1 : off + 1 + row_bytes], prev, bpp=1
                )
                if rec is None:
                    return None
                bits = np.unpackbits(np.frombuffer(rec, dtype=np.uint8))
                vals = bits[: row_w * depth].reshape(row_w, depth)
                out.append((vals * weights).sum(axis=1).astype(np.uint8))
                prev = rec
                off += 1 + row_bytes
            return out, off

        if interlace == 0:
            if len(raw) != h * (1 + (w * depth + 7) // 8):
                return None
            got = sub_rows(w, h, 0)
            if got is None:
                return None
            img = np.stack(got[0])
        else:  # r10: Adam7 at sub-byte depths (interlaced fax/mask)
            passes = _adam7_pass_dims(w, h)
            if len(raw) != sum(
                ph * (1 + (pw * depth + 7) // 8) for *_, pw, ph in passes
            ):
                return None
            img = np.zeros((h, w), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy, pw, ph in passes:
                got = sub_rows(pw, ph, off)
                if got is None:
                    return None
                rows_, off = got
                for ry, rec in enumerate(rows_):
                    img[y0 + ry * dy, x0 : x0 + (pw - 1) * dx + 1 : dx] = rec
        if ctype_ == 0:
            return img  # raw sample values 0..2^depth-1, not scaled
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(img.max()) >= pal.shape[0]:
            return None
        return pal[img]
    if interlace == 0:
        stride = w * bpp
        if len(raw) != h * (1 + stride):
            return None
        prev = bytes(stride)
        rows = []
        for y in range(h):
            off = y * (1 + stride)
            rec = _unfilter_row(raw[off], raw[off + 1 : off + 1 + stride], prev, bpp=bpp)
            if rec is None:
                return None
            rows.append(np.frombuffer(rec, dtype=np.uint8))
            prev = rec
        img = np.stack(rows).reshape(h, w, bpp)
    else:
        passes = _adam7_pass_dims(w, h)
        if len(raw) != sum(ph * (1 + pw * bpp) for *_, pw, ph in passes):
            return None
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            stride = pw * bpp
            prev = bytes(stride)
            for ry in range(ph):
                rec = _unfilter_row(
                    raw[off], raw[off + 1 : off + 1 + stride], prev, bpp=bpp
                )
                if rec is None:
                    return None
                samples = np.frombuffer(rec, dtype=np.uint8).reshape(pw, bpp)
                img[y0 + ry * dy, x0 : x0 + (pw - 1) * dx + 1 : dx, :] = samples
                prev = rec
                off += 1 + stride
    if depth == 16:  # big-endian sample pairs → uint16, any channels
        pairs = img.reshape(h, w, channels, 2).astype(np.uint16)
        img16 = (pairs[..., 0] << 8) | pairs[..., 1]
        return img16[..., 0] if ctype_ == 0 else img16
    if ctype_ in (2, 4, 6):  # truecolor / gray+alpha / RGBA: direct
        return img
    if ctype_ == 0:
        return img.reshape(h, w)
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idx = img.reshape(h, w)
    if int(idx.max()) >= pal.shape[0]:
        return None  # index beyond the palette: refuse, don't clamp
    return pal[idx]


PNG_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

PNG_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("sum_a", LongType(), True),
        StructField("sum_gray", LongType(), True),
        StructField("wsum", LongType(), True),
    ]
)


def synthesize_png(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """One full-pixel PNG per input row, built worker-side."""
    return map_rows(ids, PNG_ASSET_SCHEMA, lambda a: [(a, make_png_rgba(a))], id_col)


def synthesize_png_mixed(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """asset_id % 4 == 0 → 8-bit RGBA, % 8 == 2 → 8-bit PALETTED
    (color type 3, r6), % 16 == 6 → 8-bit TRUECOLOR (color type 2,
    r9 — carved from the palette slot), % 16 == 14 → 16-BIT TRUECOLOR
    (r9), % 8 == 1 → 8-bit grayscale sequential, % 8 == 5 → 16-BIT
    grayscale (r6 — the gray-8 slot split in two; r10: % 32 == 21
    stores the SAME gray-16 image Adam7-INTERLACED — the last PNG
    refusal closed),
    % 4 == 3 → 8-bit grayscale Adam7-INTERLACED (r6; same pixel
    formula as the sequential leg — the weighted checksum column is
    what makes a misplaced pass visible to the oracle)."""

    def _mk(a: int) -> bytes:
        r4 = a % 4
        if r4 == 0:
            # r9: one RGBA slot stores the SAME image interlaced
            return make_png_rgba_adam7(a) if a % 32 == 28 else make_png_rgba(a)
        if r4 == 2:
            if a % 8 == 6:
                return make_png_rgb16(a) if a % 16 == 14 else make_png_rgb8(a)
            # r9: the %16==10 palette slot drops to 4-BIT indices
            return make_png_palette4(a) if a % 16 == 10 else make_png_palette(a)
        if r4 == 3:
            # r9: gray+alpha (color type 4), itself interlaced
            if a % 32 == 23:
                return make_png_ga_adam7(a)
            return make_png_gray_adam7(a)
        if a % 8 == 5:
            # r10: one gray-16 slot stores the SAME image interlaced
            # (the last PNG refusal, closed)
            return make_png_gray16_adam7(a) if a % 32 == 21 else make_png_gray16(a)
        if a % 16 == 9:
            # r9: the %16==9 gray slot drops to 1-BIT samples; r10:
            # its %32==25 half stores the SAME image Adam7-interlaced
            return make_png_gray1_adam7(a) if a % 32 == 25 else make_png_gray1(a)
        return make_png_gray(a)

    return map_rows(ids, PNG_ASSET_SCHEMA, lambda a: [(a, _mk(a))], id_col)


def png_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode every payload and aggregate exact integer channel sums
    (order-invariant, engine-portable). RGBA payloads fill
    sum_r/g/b/a with sum_gray NULL; RGB (paletted r6, truecolor
    8/16-bit r9) payloads fill
    sum_r/g/b with sum_a and sum_gray NULL; grayscale payloads fill
    sum_gray with the channels NULL. ``wsum`` (r6) is the
    position-WEIGHTED checksum Σ (y·w + x + 1) · first_channel(x, y)
    — unlike the plain sums it is NOT permutation-invariant, so the
    oracle hash certifies pixel PLACEMENT (the Adam7 deinterlace
    scatter) and not just the multiset of values. Undecodable →
    all NULL."""

    def stats(aid, payload):
        img = decode_png(payload) if payload is not None else None
        if img is None:
            return [(aid,)]
        h, w = img.shape[:2]
        first = (img if img.ndim == 2 else img[:, :, 0]).astype(np.int64)
        weights = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
        wsum = int((weights * first).sum())
        if img.ndim == 2:
            return [(aid, w, h, w * h, None, None, None, None, int(first.sum()), wsum)]
        nchan = img.shape[2]
        s = [int(v) for v in img.reshape(-1, nchan).astype(np.int64).sum(axis=0)]
        if nchan == 2:  # r9: gray+alpha
            return [(aid, w, h, w * h, None, None, None, s[1], s[0], wsum)]
        sum_a = s[3] if nchan == 4 else None
        return [(aid, w, h, w * h, s[0], s[1], s[2], sum_a, None, wsum)]

    return map_rows(assets, PNG_STATS_SCHEMA, stats, "asset_id", "payload")
