"""From-scratch baseline TIFF 6.0 codec (r6) — decoder-matrix
breadth: the dominant archival/scan format (and the container GeoTIFF
and many scientific corpora ride on). Public-spec implementation
(Adobe TIFF 6.0, 1992): II/MM byte orders, IFD walk with inline-vs-
offset values, strip assembly via RowsPerStrip / StripOffsets /
StripByteCounts, Compression 1 (none) and 32773 (PackBits RLE),
PhotometricInterpretation 0 (WhiteIsZero — inverted for display,
the fax/scan convention), 1 (BlackIsZero) and 2 (RGB).

Same discipline as the BMP/PNG/GIF/JPEG/WAV codecs:

- the encoder writes spec-valid containers from arithmetic pixel
  formulas (below, mirrored in the oracle SQL);
- the decoder REALLY parses bytes (struct-level IFD walk, real RLE);
- pytest pins the decoder against HAND-BUILT byte vectors so an
  encoder/decoder bug pair can't cancel, plus a hypothesis PackBits
  round-trip property;
- anything outside the implemented profile returns None (honest
  refusal): bit depths other than 8, predictors other than
  none/horizontal (tiles, planar configuration 2 AND JPEG-in-TIFF
  all decode for real since r9 — no layout or codec refusals
  remain; inside a JPEG strip the JPEG decoder's own gates apply,
  e.g. arithmetic-coded scans refuse there).

r8: LZW decompression (TIFF 6.0 §13) — TIFF's most common
historical codec, the top remaining gap on archival/scan corpora.
The shared LZW engine (``multimodal/lzw.py``) under ``TIFF_LZW``,
with the two spec deltas: MSB-first bit packing and the
EarlyChange code-width bump at table size 2^w − 1 (one code
EARLIER than GIF; codes 9→10 bits when entry 510 is added — the
classic interop off-by-one). Paired with Predictor 2 (horizontal
differencing, tag 317, TIFF 6.0 §14) — the real-world LZW
combination — so smooth gradients genuinely compress.

Mixed synthesis profiles (by asset_id % 4, the %4==2 slot split
%8, all small-strip so the strip walk is really exercised):

  0     → uncompressed RGB8, little-endian (II), RowsPerStrip 4
  1     → PackBits GRAYSCALE (BlackIsZero), big-endian (MM) — the
          pixel formula repeats values 4× along x so RLE genuinely
          compresses (and the decoder genuinely decompresses)
  %8==2 → uncompressed grayscale WhiteIsZero (II): stored byte s is
          DISPLAYED as 255 - s — decode applies the inversion
  %8==6 → DEFLATE grayscale BlackIsZero (II, compression 8 — the
          Adobe/TIFFTN2 zlib codec; r8): real zlib inflation, with
          the legacy code 32946 accepted as an alias
  3     → LZW grayscale BlackIsZero + Predictor 2, big-endian (MM):
          the formula is linear in x so horizontal differencing
          yields constant-per-row diffs and LZW genuinely compresses

r9 (§15 tiles + planar 2 — the refusal list is now JPEG-in-TIFF
only): the %4==2 slot splits further —
  %16==10 → TILED LZW grayscale + Predictor 2 (MM): 16×16 tiles
            (the spec minimum) over dims enlarged by one full tile
            (w+16 × h+16 → a 2×2 grid), edge tiles padded with 0xAB
            so a padding blit or tile-row mis-stride breaks the sums
  %32==14 → TILED deflate RGB (II), same tile geometry
  %32==30 → PLANAR-CONFIGURATION-2 PackBits RGB (MM, tag 284=2):
            all of plane R's strips, then G's, then B's, recombined
            per pixel — predictor/differencing per PLANE row
  %32==18 → JPEG-IN-TIFF (compression 7, TIFF TechNote 2): each
            8-row strip is a REAL baseline JPEG stream decoded by
            the in-repo JPEG engine; %64==50 ships ABBREVIATED
            streams with the shared DQT/DHT in the JPEGTables tag
            (347) merged back at decode. Pixel = block_dc formula
            + 128 on the global (x//8, y//8) grid

Formulas (w = 5 + a % TIF_W_MOD, h = 4 + a % TIF_H_MOD; tiled legs
use w+16, h+16):
  RGB:    r=(3x+7y+a)%256  g=(5x+y+2a)%256  b=(x+11y+3a)%256
          (also the tiled-RGB %32==14 and planar-2 %32==30 legs)
  gray1:  v=((x//4)*13 + 9y + a) % 256        (BlackIsZero)
  gray0:  stored=(2x+5y+7a)%256 → value 255 - stored
  gray3:  v=(11x + 3y + 5a) % 256             (LZW + predictor 2)
  gray6:  v=(7x + 9y + 3a) % 256              (deflate)
  gray10: v=(5x + 13y + 7a) % 256             (tiled LZW + pred 2)
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from queryengine_spark.multimodal.lzw import LzwRules, lzw_decode, lzw_encode
from queryengine_spark.plans import map_rows

#: synthesis formula constants (mirrored in the oracle SQL)
TIF_W_MOD, TIF_H_MOD = 12, 9
TIF_ROWS_PER_STRIP = 4
TIF_R = (3, 7, 1)
TIF_G = (5, 1, 2)
TIF_B = (1, 11, 3)
TIF_GRAY1 = (13, 9, 1)  # v = (x//4 * 13 + 9y + a) % 256
TIF_GRAY3 = (11, 3, 5)  # v = (11x + 3y + 5a) % 256 (LZW leg)
TIF_GRAY6 = (7, 9, 3)   # v = (7x + 9y + 3a) % 256 (deflate leg, r8)
TIF_GRAY0 = (2, 5, 7)  # stored = (2x + 5y + 7a) % 256


def tiff_params(asset_id: int) -> tuple[int, int]:
    return 5 + asset_id % TIF_W_MOD, 4 + asset_id % TIF_H_MOD


# ------------------------------------------------------------ PackBits


def packbits_encode(data: bytes) -> bytes:
    """Real PackBits RLE (TIFF 6.0 §9): runs of ≥3 identical bytes →
    repeat packet (257-n control), everything else batched into
    literal packets of ≤128."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = 0

    def flush_literals(end: int) -> None:
        j = lit_start
        while j < end:
            k = min(128, end - j)
            out.append(k - 1)
            out.extend(data[j : j + k])
            j += k

    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            flush_literals(i)
            out.append(257 - run)
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literals(n)
    return bytes(out)


def packbits_decode(data: bytes) -> bytes | None:
    """None on truncation (a control byte promising more input than
    remains) — honest refusal, never a short read."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:  # literal: copy next c+1 bytes
            if i + c + 1 > n:
                return None
            out += data[i : i + c + 1]
            i += c + 1
        elif c == 128:  # noop per spec
            continue
        else:  # repeat next byte 257-c times
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - c)
            i += 1
    return bytes(out)


#: TIFF 6.0 §13 LZW rules: MSB-first codes, EarlyChange (widen one
#: entry before 2^w), and the encoder emits Clear before code 4094
TIFF_LZW = LzwRules(msb_first=True, early_change=1, max_table=4094)


def hdiff_encode(row: bytes, spp: int) -> bytes:
    """Predictor 2 (TIFF 6.0 §14): per row, per channel, store the
    difference from the previous sample mod 256; first sample kept."""
    out = bytearray(row)
    for i in range(len(row) - 1, spp - 1, -1):
        out[i] = (row[i] - row[i - spp]) & 0xFF
    return bytes(out)


def hdiff_decode(row: bytes, spp: int) -> bytes:
    out = bytearray(row)
    for i in range(spp, len(row)):
        out[i] = (out[i] + out[i - spp]) & 0xFF
    return bytes(out)


# ------------------------------------------------------------ encoder


def _pixel_rgb(a: int, x: int, y: int) -> tuple[int, int, int]:
    return (
        (TIF_R[0] * x + TIF_R[1] * y + TIF_R[2] * a) % 256,
        (TIF_G[0] * x + TIF_G[1] * y + TIF_G[2] * a) % 256,
        (TIF_B[0] * x + TIF_B[1] * y + TIF_B[2] * a) % 256,
    )


def _pixel_gray1(a: int, x: int, y: int) -> int:
    return ((x // 4) * TIF_GRAY1[0] + TIF_GRAY1[1] * y + TIF_GRAY1[2] * a) % 256


def _pixel_gray0_stored(a: int, x: int, y: int) -> int:
    return (TIF_GRAY0[0] * x + TIF_GRAY0[1] * y + TIF_GRAY0[2] * a) % 256


def _pixel_gray3(a: int, x: int, y: int) -> int:
    return (TIF_GRAY3[0] * x + TIF_GRAY3[1] * y + TIF_GRAY3[2] * a) % 256


def _pixel_gray6(a: int, x: int, y: int) -> int:
    return (TIF_GRAY6[0] * x + TIF_GRAY6[1] * y + TIF_GRAY6[2] * a) % 256


def _build_tiff(
    *,
    big_endian: bool,
    w: int,
    h: int,
    spp: int,
    photometric: int,
    compression: int,
    strips: list[bytes],
    predictor: int = 1,
    planar: int = 1,
    jpegtables: bytes | None = None,
    rows_per_strip: int = TIF_ROWS_PER_STRIP,
    bps: int = 8,
) -> bytes:
    """Assemble header + strip data + one IFD. Strip data precedes the
    IFD (offsets are therefore known up front); BitsPerSample for
    spp=3 is a 3-SHORT array stored out-of-line, exercising the
    value-vs-offset rule (3×2 bytes > 4). planar=2 (r9) writes tag
    284: ``strips`` must then hold all of plane 0's strips, then
    plane 1's, … (TIFF 6.0 PlanarConfiguration ordering)."""
    e = ">" if big_endian else "<"
    n_strips = len(strips)
    pos = 8  # after header
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    # out-of-line value areas (word-align for tidiness)
    if pos % 2:
        pos += 1
    bps_off = pos
    if spp == 3:
        pos += 6  # three SHORTs
    off_area = so_off = sc_off = 0
    if n_strips > 1:
        so_off = pos
        pos += 4 * n_strips
        sc_off = pos
        pos += 4 * n_strips
    jt_off = pos
    if jpegtables is not None:
        pos += len(jpegtables)
        if pos % 2:
            pos += 1
    ifd_off = pos

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        if typ == 3 and count == 1:  # SHORT inline, left-justified slot
            return struct.pack(f"{e}HHIHH", tag, typ, count, value, 0)
        return struct.pack(f"{e}HHII", tag, typ, count, value)

    entries = [
        entry(256, 3, 1, w),  # ImageWidth
        entry(257, 3, 1, h),  # ImageLength
        (
            entry(258, 3, 3, bps_off)
            if spp == 3
            else entry(258, 3, 1, bps)
        ),  # BitsPerSample
        entry(259, 3, 1, compression),
        entry(262, 3, 1, photometric),
        (
            entry(273, 4, n_strips, so_off)
            if n_strips > 1
            else entry(273, 4, 1, strip_offsets[0])
        ),  # StripOffsets
        entry(277, 3, 1, spp),
        entry(278, 3, 1, rows_per_strip),
        (
            entry(279, 4, n_strips, sc_off)
            if n_strips > 1
            else entry(279, 4, 1, len(strips[0]))
        ),  # StripByteCounts
    ]
    if planar != 1:
        entries.append(entry(284, 3, 1, planar))  # PlanarConfiguration
    if predictor != 1:
        entries.append(entry(317, 3, 1, predictor))  # Predictor
    if jpegtables is not None:
        # JPEGTables (TIFF TechNote 2): type 7 UNDEFINED, out-of-line
        entries.append(entry(347, 7, len(jpegtables), jt_off))
    entries.sort(key=lambda en: struct.unpack(f"{e}H", en[:2])[0])
    out = bytearray()
    out += struct.pack(f"{e}2sHI", b"MM" if big_endian else b"II", 42, ifd_off)
    for s in strips:
        out += s
    if len(out) % 2:
        out += b"\x00"
    assert len(out) == bps_off
    if spp == 3:
        out += struct.pack(f"{e}3H", 8, 8, 8)
    if n_strips > 1:
        out += struct.pack(f"{e}{n_strips}I", *strip_offsets)
        out += struct.pack(f"{e}{n_strips}I", *(len(s) for s in strips))
    if jpegtables is not None:
        assert len(out) == jt_off
        out += jpegtables
        if len(out) % 2:
            out += b"\x00"
    assert len(out) == ifd_off
    out += struct.pack(f"{e}H", len(entries))
    for en in entries:
        out += en
    out += struct.pack(f"{e}I", 0)  # no next IFD
    return bytes(out)


def _build_tiff_tiled(
    *,
    big_endian: bool,
    w: int,
    h: int,
    spp: int,
    photometric: int,
    compression: int,
    tiles: list[bytes],
    tile_w: int,
    tile_h: int,
    predictor: int = 1,
) -> bytes:
    """Assemble a TILED container (TIFF 6.0 §15): TileWidth /
    TileLength (tags 322/323, both multiples of 16 per spec) +
    TileOffsets / TileByteCounts (324/325) replace the strip tags.
    Tiles are row-major over a ceil(w/tw) × ceil(h/tl) grid; edge
    tiles are FULL-SIZE with padding (the decoder must crop)."""
    e = ">" if big_endian else "<"
    n_tiles = len(tiles)
    pos = 8
    tile_offsets = []
    for s in tiles:
        tile_offsets.append(pos)
        pos += len(s)
    if pos % 2:
        pos += 1
    bps_off = pos
    if spp == 3:
        pos += 6
    to_off = pos
    pos += 4 * n_tiles
    tc_off = pos
    pos += 4 * n_tiles
    ifd_off = pos

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        if typ == 3 and count == 1:
            return struct.pack(f"{e}HHIHH", tag, typ, count, value, 0)
        return struct.pack(f"{e}HHII", tag, typ, count, value)

    entries = [
        entry(256, 3, 1, w),
        entry(257, 3, 1, h),
        entry(258, 3, 3, bps_off) if spp == 3 else entry(258, 3, 1, 8),
        entry(259, 3, 1, compression),
        entry(262, 3, 1, photometric),
        entry(277, 3, 1, spp),
        entry(322, 3, 1, tile_w),
        entry(323, 3, 1, tile_h),
        entry(324, 4, n_tiles, to_off),
        entry(325, 4, n_tiles, tc_off),
    ]
    if predictor != 1:
        entries.append(entry(317, 3, 1, predictor))
        entries.sort(key=lambda en: struct.unpack(f"{e}H", en[:2])[0])
    out = bytearray()
    out += struct.pack(f"{e}2sHI", b"MM" if big_endian else b"II", 42, ifd_off)
    for s in tiles:
        out += s
    if len(out) % 2:
        out += b"\x00"
    assert len(out) == bps_off
    if spp == 3:
        out += struct.pack(f"{e}3H", 8, 8, 8)
    out += struct.pack(f"{e}{n_tiles}I", *tile_offsets)
    out += struct.pack(f"{e}{n_tiles}I", *(len(s) for s in tiles))
    assert len(out) == ifd_off
    out += struct.pack(f"{e}H", len(entries))
    for en in entries:
        out += en
    out += struct.pack(f"{e}I", 0)
    return bytes(out)


#: tile geometry for the tiled legs — the spec minimum (16 is the
#: smallest legal TileWidth/TileLength), giving a 2×2 grid with
#: padded right/bottom edge tiles at the legs' enlarged dims
TIF_TILE = 16
#: edge-tile padding byte — NOT zero, so a decoder that blits padding
#: into the image (or mis-strides a tile row) always breaks the sums
TIF_PAD = 0xAB
TIF_GRAY10 = (5, 13, 7)  # v = (5x + 13y + 7a) % 256 (tiled LZW leg)


def tiff_tiled_params(asset_id: int) -> tuple[int, int]:
    """Tiled legs enlarge the base dims by one full tile so the walk
    really crosses tile boundaries (2×2 grid, padded edges)."""
    w, h = tiff_params(asset_id)
    return w + TIF_TILE, h + TIF_TILE


def _pixel_gray10(a: int, x: int, y: int) -> int:
    return (TIF_GRAY10[0] * x + TIF_GRAY10[1] * y + TIF_GRAY10[2] * a) % 256


def _tile_bytes(
    a: int, w: int, h: int, tx: int, ty: int, px, spp: int
) -> bytes:
    """One FULL tile's raw bytes (TIF_TILE × TIF_TILE), out-of-image
    positions padded with TIF_PAD."""
    out = bytearray()
    for dy in range(TIF_TILE):
        y = ty * TIF_TILE + dy
        for dx in range(TIF_TILE):
            x = tx * TIF_TILE + dx
            if x < w and y < h:
                v = px(a, x, y)
                out.extend(v if spp == 3 else (v,))
            else:
                out.extend((TIF_PAD,) * spp)
    return bytes(out)


def _pixel_gray_deep(a: int, x: int, y: int, bps: int) -> int:
    """Formula pixel reduced into the depth's code range (depth 16
    spreads over the full 16-bit range so a high-byte-only decode
    fails loudly)."""
    if bps == 16:
        return (257 * _pixel_gray1(a, x, y) + 101 * a + 3 * x + 5 * y) % 65536
    return _pixel_gray1(a, x, y) % (1 << bps)


def _pack_deep_row(vals: list[int], bps: int, big_endian: bool) -> bytes:
    if bps == 16:
        return struct.pack(
            (">" if big_endian else "<") + f"{len(vals)}H", *vals
        )
    out = bytearray()
    acc = nb = 0
    for v in vals:
        acc = (acc << bps) | v
        nb += bps
        if nb == 8:
            out.append(acc)
            acc = nb = 0
    if nb:
        out.append(acc << (8 - nb))
    return bytes(out)


def make_tiff_gray_deep(asset_id: int, bps: int) -> bytes:
    """Grayscale TIFF at bit depth 1 / 4 / 16 (r11 — archival
    bilevel scans and scientific 16-bit): formula pixels in the
    depth's code range, sub-byte rows packed MSB-first with per-row
    byte padding, 16-bit samples in the file's byte order (odd
    assets write big-endian MM). PackBits when asset_id % 2 == 1,
    uncompressed otherwise; WhiteIsZero (photometric 0) when
    asset_id % 8 == 5, exercising the code-range inversion. Corpus
    slot deferred to the next rotation window (codec+pins pattern,
    like the r9 ADPCM)."""
    a = asset_id
    w, h = tiff_params(a)
    big = a % 2 == 1
    photo = 0 if a % 8 == 5 else 1
    rps = TIF_ROWS_PER_STRIP
    strips = []
    for y0 in range(0, h, rps):
        raw = b"".join(
            _pack_deep_row(
                [_pixel_gray_deep(a, x, y, bps) for x in range(w)],
                bps,
                big,
            )
            for y in range(y0, min(y0 + rps, h))
        )
        strips.append(packbits_encode(raw) if a % 2 == 1 else raw)
    return _build_tiff(
        big_endian=big, w=w, h=h, spp=1, photometric=photo,
        compression=32773 if a % 2 == 1 else 1, strips=strips, bps=bps,
    )


def deep_bps(asset_id: int) -> int:
    """The deep-gray corpus split: depth 1 / 4 / 16 by asset % 3."""
    return (1, 4, 16)[asset_id % 3]


def synthesize_tiff_deep(ids, id_col: str = "asset_id"):
    """One deep-gray TIFF per input row (map_rows), depths cycled
    by deep_bps — the r11 corpus slot for the 1/4/16-bit decode
    paths (promised 'next rotation' when the codec landed; the
    rotation guard admitted it this round)."""
    return map_rows(
        ids, TIFF_ASSET_SCHEMA, lambda a: [(a, make_tiff_gray_deep(a, deep_bps(a)))], id_col
    )


def tiff_deep_stats(assets):
    """Decode each deep-gray TIFF and emit exact integer stats over
    the RAW stored codes (post WhiteIsZero inversion — exactly what
    decode_tiff returns): certifies MSB-first sub-byte unpacking,
    per-row padding, 16-bit byte order, and the code-range
    inversion against the formula oracle. Row-linear map_rows,
    zero shuffle."""

    def stats(aid, payload):
        arr = decode_tiff(payload) if payload is not None else None
        if arr is None:
            return ()
        v = arr[..., 0].astype(np.int64)
        return [
            (aid, deep_bps(aid), arr.shape[1], arr.shape[0], int(v.size),
             int(v.sum()), int(v[-1, -1]))
        ]

    return map_rows(assets, TIFF_DEEP_SCHEMA, stats, "asset_id", "payload")


def make_tiff(asset_id: int) -> bytes:
    """Container bytes for one asset (profile by asset_id % 4)."""
    a = asset_id
    w, h = tiff_params(a)
    leg = a % 4
    rps = TIF_ROWS_PER_STRIP
    row_starts = range(0, h, rps)
    if leg == 3:  # LZW grayscale BlackIsZero + Predictor 2, MM
        strips = [
            lzw_encode(
                b"".join(
                    hdiff_encode(
                        bytes(_pixel_gray3(a, x, y) for x in range(w)), 1
                    )
                    for y in range(y0, min(y0 + rps, h))
                ),
                8,
                TIFF_LZW,
            )
            for y0 in row_starts
        ]
        return _build_tiff(
            big_endian=True, w=w, h=h, spp=1, photometric=1,
            compression=5, strips=strips, predictor=2,
        )
    if leg == 0:  # uncompressed RGB, II
        strips = [
            b"".join(
                bytes(_pixel_rgb(a, x, y))
                for y in range(y0, min(y0 + rps, h))
                for x in range(w)
            )
            for y0 in row_starts
        ]
        return _build_tiff(
            big_endian=False, w=w, h=h, spp=3, photometric=2,
            compression=1, strips=strips,
        )
    if leg == 1:  # PackBits grayscale BlackIsZero, MM
        strips = [
            packbits_encode(
                bytes(
                    _pixel_gray1(a, x, y)
                    for y in range(y0, min(y0 + rps, h))
                    for x in range(w)
                )
            )
            for y0 in row_starts
        ]
        return _build_tiff(
            big_endian=True, w=w, h=h, spp=1, photometric=1,
            compression=32773, strips=strips,
        )
    if a % 32 == 18:  # r9: JPEG-in-TIFF (compression 7), II
        # strips are REAL baseline JPEG streams, one 8-row strip
        # each; a % 64 == 50 ships ABBREVIATED streams with the
        # shared tables in the JPEGTables tag (TIFF TechNote 2)
        from queryengine_spark.multimodal.jpeg import (
            DC_MOD,
            DC_MULT,
            DC_OFF,
            jpeg_tables_blob,
            make_jpeg_gray_dc_grid,
        )

        abbreviated = a % 64 == 50
        bw = -(-w // 8)
        strips = []
        for k in range(-(-h // 8)):
            rows_here = min(8, h - 8 * k)
            dcs = [[
                ((a + 13 * bx + 31 * k) * DC_MULT) % DC_MOD + DC_OFF
                for bx in range(bw)
            ]]
            strips.append(
                make_jpeg_gray_dc_grid(
                    w, rows_here, dcs, abbreviated=abbreviated
                )
            )
        return _build_tiff(
            big_endian=False, w=w, h=h, spp=1, photometric=1,
            compression=7, strips=strips, rows_per_strip=8,
            jpegtables=jpeg_tables_blob() if abbreviated else None,
        )
    if a % 16 == 10:  # r9: TILED LZW grayscale + Predictor 2, MM
        w2, h2 = tiff_tiled_params(a)
        tpr, tpc = -(-w2 // TIF_TILE), -(-h2 // TIF_TILE)
        tiles = []
        for ty in range(tpc):
            for tx in range(tpr):
                raw = _tile_bytes(a, w2, h2, tx, ty, _pixel_gray10, 1)
                tiles.append(
                    lzw_encode(
                        b"".join(
                            hdiff_encode(
                                raw[r * TIF_TILE : (r + 1) * TIF_TILE], 1
                            )
                            for r in range(TIF_TILE)
                        ),
                        8,
                        TIFF_LZW,
                    )
                )
        return _build_tiff_tiled(
            big_endian=True, w=w2, h=h2, spp=1, photometric=1,
            compression=5, tiles=tiles,
            tile_w=TIF_TILE, tile_h=TIF_TILE, predictor=2,
        )
    if a % 32 == 14:  # r9: TILED DEFLATE RGB, II
        import zlib

        w2, h2 = tiff_tiled_params(a)
        tpr, tpc = -(-w2 // TIF_TILE), -(-h2 // TIF_TILE)
        tiles = [
            zlib.compress(_tile_bytes(a, w2, h2, tx, ty, _pixel_rgb, 3), 6)
            for ty in range(tpc)
            for tx in range(tpr)
        ]
        return _build_tiff_tiled(
            big_endian=False, w=w2, h=h2, spp=3, photometric=2,
            compression=8, tiles=tiles,
            tile_w=TIF_TILE, tile_h=TIF_TILE,
        )
    if a % 32 == 30:  # r9: PLANAR-CONFIGURATION-2 PackBits RGB, MM
        strips = [
            packbits_encode(
                bytes(
                    _pixel_rgb(a, x, y)[p]
                    for y in range(y0, min(y0 + rps, h))
                    for x in range(w)
                )
            )
            for p in range(3)
            for y0 in row_starts
        ]
        return _build_tiff(
            big_endian=True, w=w, h=h, spp=3, photometric=2,
            compression=32773, strips=strips, planar=2,
        )
    if a % 8 == 6:  # r8: DEFLATE grayscale BlackIsZero, II
        import zlib

        strips = [
            zlib.compress(
                bytes(
                    _pixel_gray6(a, x, y)
                    for y in range(y0, min(y0 + rps, h))
                    for x in range(w)
                ),
                6,
            )
            for y0 in row_starts
        ]
        return _build_tiff(
            big_endian=False, w=w, h=h, spp=1, photometric=1,
            compression=8, strips=strips,
        )
    # %16 == 2: uncompressed grayscale WhiteIsZero, II
    strips = [
        bytes(
            _pixel_gray0_stored(a, x, y)
            for y in range(y0, min(y0 + rps, h))
            for x in range(w)
        )
        for y0 in row_starts
    ]
    return _build_tiff(
        big_endian=False, w=w, h=h, spp=1, photometric=0,
        compression=1, strips=strips,
    )


# ------------------------------------------------------------ decoder


def _read_ifd_entries(b: bytes, e: str, ifd_off: int):
    if ifd_off + 2 > len(b):
        return None
    (n,) = struct.unpack_from(f"{e}H", b, ifd_off)
    if ifd_off + 2 + 12 * n > len(b):
        return None
    out = {}
    for i in range(n):
        tag, typ, count, raw = struct.unpack_from(
            f"{e}HHI4s", b, ifd_off + 2 + 12 * i
        )
        out[tag] = (typ, count, raw)
    return out


_TYPE_SIZE = {1: 1, 3: 2, 4: 4}


def _values(b: bytes, e: str, ent) -> list[int] | None:
    """IFD entry → list of integer values, honoring the ≤4-bytes-
    inline rule (TIFF 6.0 §2). BYTE/SHORT/LONG only."""
    typ, count, raw = ent
    size = _TYPE_SIZE.get(typ)
    if size is None or count == 0:
        return None
    fmt = {1: "B", 3: "H", 4: "I"}[typ]
    total = size * count
    if total <= 4:
        return list(struct.unpack_from(f"{e}{count}{fmt}", raw, 0))
    (off,) = struct.unpack(f"{e}I", raw)
    if off + total > len(b):
        return None
    return list(struct.unpack_from(f"{e}{count}{fmt}", b, off))


def _unpack_rows(
    raw: bytes, n_rows: int, px: int, bps: int, e: str
) -> np.ndarray:
    """Byte-aligned packed rows → (n_rows, px) sample array.
    bps 1/4 unpack MSB-first (TIFF 6.0 §4 FillOrder 1); bps 16 reads
    samples in the file's byte order. Raw codes, no scaling (same
    stored-precision contract as the PNG decoder)."""
    stride = (px * bps + 7) // 8
    a = np.frombuffer(raw, np.uint8).reshape(n_rows, stride)
    if bps == 8:
        return a[:, :px]
    if bps == 16:
        return (
            a.reshape(n_rows, px, 2)
            .astype(np.uint16)
            .dot(
                np.array(
                    [256, 1] if e == ">" else [1, 256], dtype=np.uint16
                )
            )
        )
    bits = np.unpackbits(a, axis=1)
    if bps == 1:
        return bits[:, :px]
    return bits[:, : px * 4].reshape(n_rows, px, 4).dot(
        np.array([8, 4, 2, 1], dtype=np.uint8)
    )


def decode_tiff(b: bytes) -> np.ndarray | None:
    """bytes → (h, w, 3) RGB array (grayscale replicated to 3
    channels, WhiteIsZero inverted within the code range), or None
    for anything outside the implemented profile: compression other
    than none/PackBits/LZW/deflate, predictor other than
    none/horizontal, or malformed geometry.

    r9: TILED layout (TIFF 6.0 §15 — TileWidth/TileLength multiples
    of 16, row-major full-size tiles with padded edges, the dominant
    GeoTIFF/large-scan layout) and PLANAR CONFIGURATION 2 (separate
    per-sample strip planes, recombined per pixel) both decode
    through the same decompressors.

    r11: grayscale bit depths 1 and 4 (archival scan / fax-adjacent
    bilevel corpora; MSB-first packing, per-row byte padding) and 16
    (scientific imaging; file byte order) decode in the chunky
    layout through every non-JPEG codec — RAW stored codes, no
    scaling (dtype uint16 for depth 16, uint8 otherwise; the same
    stored-precision contract the PNG decoder documents). The
    refusal list is now JPEG-in-TIFF-with-arithmetic-scans only
    (inherited from the JPEG decoder's own gates)."""
    if len(b) < 8:
        return None
    if b[:2] == b"II":
        e = "<"
    elif b[:2] == b"MM":
        e = ">"
    else:
        return None
    magic, ifd_off = struct.unpack_from(f"{e}HI", b, 2)
    if magic != 42:
        return None
    ents = _read_ifd_entries(b, e, ifd_off)
    if ents is None:
        return None

    def one(tag: int, default: int | None = None) -> int | None:
        if tag not in ents:
            return default
        v = _values(b, e, ents[tag])
        return v[0] if v else None

    w, h = one(256), one(257)
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    rps = one(278, 2**32 - 1)
    planar = one(284, 1)
    predictor = one(317, 1)
    tiled = 322 in ents or 323 in ents
    if not w or not h or photo is None or planar not in (1, 2):
        return None
    if comp not in (1, 5, 7, 8, 32773, 32946) or spp not in (1, 3):
        return None
    if predictor not in (1, 2):
        return None
    if comp == 7:
        # r9: JPEG-in-TIFF (TIFF TechNote 2 'new-style', tag 259=7):
        # each strip/tile is a baseline JPEG stream — complete, or
        # ABBREVIATED with the shared tables in JPEGTables (tag 347).
        # Predictors and planar separation do not compose with JPEG.
        if predictor != 1 or planar != 1:
            return None
        if photo not in (1, 6) or (photo == 6) != (spp == 3):
            return None
        jpegtables = None
        if 347 in ents:
            typ, count, raw = ents[347]
            if typ not in (1, 7) or count < 4:
                return None
            if count <= 4:
                jpegtables = bytes(raw[:count])
            else:
                (off,) = struct.unpack(f"{e}I", raw)
                if off + count > len(b):
                    return None
                jpegtables = bytes(b[off : off + count])
    elif photo not in (0, 1, 2) or (photo == 2) != (spp == 3):
        return None
    bps_list = _values(b, e, ents[258]) if 258 in ents else [8] * spp
    if bps_list is None or len(bps_list) != spp:
        return None
    bps = bps_list[0]
    if any(v != bps for v in bps_list):
        return None  # mixed per-sample depths: out of profile
    if spp == 3:
        if bps != 8:
            return None  # 16-bit stays a grayscale profile
    elif bps not in (1, 4, 8, 16):
        return None
    if bps != 8 and (planar != 1 or predictor != 1 or comp == 7):
        # sub-byte / 16-bit (r11): chunky layout only; horizontal
        # differencing and JPEG strips do not compose with them here
        return None

    def dechunk(chunk: bytes, n_rows: int, stride: int) -> bytes | None:
        """Decompress one strip/tile and undo the predictor; the
        result must be EXACTLY n_rows × stride bytes."""
        if comp == 7:
            from queryengine_spark.multimodal.jpeg import (
                decode_jpeg_pixels,
                decode_jpeg_rgb,
                merge_jpeg_tables,
            )

            if jpegtables is not None:
                chunk = merge_jpeg_tables(jpegtables, chunk)
                if chunk is None:
                    return None
            if spp == 1:
                arr = decode_jpeg_pixels(chunk)
            else:
                arr = decode_jpeg_rgb(chunk)
            if arr is None:
                return None
            if arr.shape[0] != n_rows or arr.shape[1] * spp != stride:
                return None
            chunk = arr.astype(np.uint8).tobytes()
            if len(chunk) != n_rows * stride:
                return None
            return chunk
        if comp == 32773:
            chunk = packbits_decode(chunk)
            if chunk is None:
                return None
        elif comp == 5:
            chunk = lzw_decode(chunk, 8, TIFF_LZW)
            if chunk is None:
                return None
        elif comp in (8, 32946):  # Adobe deflate (+ legacy alias)
            import zlib

            try:
                chunk = zlib.decompress(chunk)
            except zlib.error:
                return None
        if len(chunk) != n_rows * stride:
            return None
        if predictor == 2:
            # stride // n_rows... differencing resets per ROW; the
            # per-sample interleave within a row follows spp for
            # chunky data and 1 for planar/tile-gray data — callers
            # pass the right samples-per-pixel via dspp
            chunk = b"".join(
                hdiff_decode(chunk[r * stride : (r + 1) * stride], dspp)
                for r in range(n_rows)
            )
        return chunk

    if tiled:
        # TIFF 6.0 §15: tiles replace strips entirely — mixed
        # strip/tile tags or planar-2 tiles are outside the profile
        if planar != 1 or 273 in ents or 279 in ents:
            return None
        tw, tl = one(322), one(323)
        if (
            not tw or not tl
            or tw % 16 or tl % 16  # §15: must be multiples of 16
        ):
            return None
        offs = _values(b, e, ents[324]) if 324 in ents else None
        cnts = _values(b, e, ents[325]) if 325 in ents else None
        if not offs or not cnts or len(offs) != len(cnts):
            return None
        tpr = -(-w // tw)
        tpc = -(-h // tl)
        if len(offs) != tpr * tpc:
            return None
        dspp = spp
        tile_stride = (tw * spp * bps + 7) // 8
        img = np.empty(
            (h, w, spp), dtype=np.uint16 if bps == 16 else np.uint8
        )
        for k, (off, cnt) in enumerate(zip(offs, cnts)):
            if off + cnt > len(b):
                return None
            dec = dechunk(bytes(b[off : off + cnt]), tl, tile_stride)
            if dec is None:
                return None
            if bps == 8:
                tile = np.frombuffer(dec, np.uint8).reshape(tl, tw, spp)
            else:  # spp == 1 enforced above
                tile = _unpack_rows(dec, tl, tw, bps, e)[:, :, None]
            ty, tx = divmod(k, tpr)
            y0, x0 = ty * tl, tx * tw
            vh, vw = min(tl, h - y0), min(tw, w - x0)
            img[y0 : y0 + vh, x0 : x0 + vw] = tile[:vh, :vw]
        arr = img
    else:
        offs = _values(b, e, ents[273]) if 273 in ents else None
        cnts = _values(b, e, ents[279]) if 279 in ents else None
        if not offs or not cnts or len(offs) != len(cnts):
            return None
        n_per_plane = -(-h // rps) if rps else 0
        n_planes = spp if planar == 2 else 1
        dspp = spp if planar == 1 else 1
        if len(offs) != n_per_plane * n_planes:
            return None
        row_bytes = (w * (spp if planar == 1 else 1) * bps + 7) // 8
        planes = []
        for p in range(n_planes):
            raw = bytearray()
            for i in range(n_per_plane):
                off, cnt = offs[p * n_per_plane + i], cnts[p * n_per_plane + i]
                if off + cnt > len(b):
                    return None
                rows_here = min(rps, h - i * rps)
                dec = dechunk(bytes(b[off : off + cnt]), rows_here, row_bytes)
                if dec is None:
                    return None
                raw += dec
            if bps == 8:
                planes.append(
                    np.frombuffer(bytes(raw), np.uint8).reshape(
                        h, w, spp if planar == 1 else 1
                    )
                )
            else:  # spp == 1, planar == 1 enforced above
                planes.append(
                    _unpack_rows(bytes(raw), h, w, bps, e)[..., None]
                )
        arr = planes[0] if planar == 1 else np.concatenate(planes, axis=2)
    if spp == 1:
        v = arr[..., 0]
        if photo == 0:  # WhiteIsZero: invert within the code range
            v = ((1 << bps) - 1) - v
        return np.repeat(
            v.astype(np.uint16 if bps == 16 else np.uint8)[..., None],
            3,
            axis=2,
        )
    return arr.copy()


# ------------------------------------------------------------ Spark ops

TIFF_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

TIFF_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)

TIFF_DEEP_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("bps", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", LongType()),
        StructField("code_sum", LongType()),
        StructField("corner_code", LongType()),
    ]
)


def synthesize_tiff(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    return map_rows(ids, TIFF_ASSET_SCHEMA, lambda a: [(a, make_tiff(a))], id_col)


def tiff_pixel_stats(assets: DataFrame) -> DataFrame:
    def stats(aid, payload):
        arr = decode_tiff(payload or b"")
        if arr is None:
            return ()
        c = arr.astype(np.int64)
        h, w = c.shape[:2]
        return [
            (aid, w, h, h * w, int(c[..., 0].sum()), int(c[..., 1].sum()),
             int(c[..., 2].sum()))
        ]

    return map_rows(assets, TIFF_STATS_SCHEMA, stats, "asset_id", "payload")
