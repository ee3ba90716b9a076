"""Real image decode, no media libraries: uncompressed 24-bit BMP
(BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up BGR rows padded to
4 bytes) is decodable with struct + numpy alone — so unlike the
stubbed JPEG/PNG pixel paths (absent codec libs), this format runs
the FULL pipeline: synthesize container bytes → ship as a binary
column → parse header → decode pixel matrix → aggregate statistics.

The correctness story is the strong one: pixels are synthesized from
an arithmetic formula of (asset_id, x, y), and the DuckDB oracle
computes the expected channel sums FROM THE FORMULA while Spark
computes them FROM THE DECODED BYTES — a hash match proves the byte
layout, stride/padding handling, bottom-up flip and BGR ordering are
all exactly right, not just that a header parsed.
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

from queryengine_spark.plans import map_rows

#: deterministic synthesis parameters (mirrored in the oracle SQL —
#: keep in sync with queries/multimodal.py::BMP_DECODE_SQL)
BMP_W_MOD, BMP_H_MOD = 13, 9


def bmp_params(asset_id: int) -> tuple[int, int]:
    return 4 + asset_id % BMP_W_MOD, 4 + asset_id % BMP_H_MOD


def _pixel(asset_id: int, x: int, y: int) -> tuple[int, int, int]:
    """(r, g, b) of the synthetic image — the formula the oracle
    re-computes symbolically."""
    return (
        (x * y + asset_id) % 256,
        (asset_id + y) % 256,
        (asset_id + x) % 256,
    )


def make_bmp(asset_id: int) -> bytes:
    """Spec-valid BI_RGB 24-bit BMP with deterministic pixels."""
    w, h = bmp_params(asset_id)
    row_stride = (w * 3 + 3) & ~3
    img_size = row_stride * h
    off = 14 + 40
    file_hdr = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(w):
            r, g, b = _pixel(asset_id, x, y)
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (row_stride - len(row))
        rows.append(bytes(row))
    return file_hdr + info_hdr + b"".join(rows)


def decode_bmp(b: bytes) -> np.ndarray | None:
    """bytes → (h, w, 3) uint8 RGB array (top-down), or None for
    anything that is not a well-formed uncompressed 24-bit or 8-bit
    paletted BMP. Handles the on-disk realities: pixel-data offset
    from the file header, 4-byte row padding, bottom-up row order,
    BGR channel order, (per spec) negative height = top-down storage,
    and for bpp=8 the BGRX color table after the info header with
    biClrUsed=0 meaning a full 256-entry palette (r5 extension —
    grayscale is just the identity-gray palette)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    try:
        _sig, _fsize, _r1, _r2, off = struct.unpack("<2sIHHI", b[:14])
        hdr_size, w, h_signed = struct.unpack("<Iii", b[14:26])
        planes, bpp = struct.unpack("<HH", b[26:30])
        compression = struct.unpack("<I", b[30:34])[0]
        clr_used = struct.unpack("<I", b[46:50])[0]
    except struct.error:
        return None
    if hdr_size < 40 or planes != 1 or bpp not in (4, 8, 24):
        return None
    # BI_RGB everywhere; BI_RLE8 (compression 1) only with bpp 8
    # (r6); BI_RLE4 (compression 2) only with bpp 4 (r9)
    if compression != 0 and not (
        (compression == 1 and bpp == 8) or (compression == 2 and bpp == 4)
    ):
        return None
    top_down = h_signed < 0
    if top_down and compression in (1, 2):
        return None  # the spec forbids top-down RLE bitmaps
    h = -h_signed if top_down else h_signed
    if w <= 0 or h <= 0 or w > 1 << 16 or h > 1 << 16:
        return None
    if bpp == 24:
        stride = (w * 3 + 3) & ~3
        if off + stride * h > len(b):
            return None
        raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
        rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            rows = rows[::-1]
        return rows[:, :, ::-1]  # BGR → RGB
    # paletted (bpp 8 or 4 — r9): color table (BGRX entries) sits
    # right after the info header; indices look colors up
    n_colors = clr_used or (16 if bpp == 4 else 256)
    pal_off = 14 + hdr_size
    if n_colors > (16 if bpp == 4 else 256) or pal_off + 4 * n_colors > len(b):
        return None
    pal = np.frombuffer(b, dtype=np.uint8, count=4 * n_colors, offset=pal_off)
    pal = pal.reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRX → RGB
    if compression == 1:  # BI_RLE8 (r6): decompress to the index grid
        idx = _decode_rle8(b[off:], w, h)
        if idx is None or idx.max() >= n_colors:
            return None
        return pal[idx][::-1]  # RLE is always bottom-up
    if compression == 2:  # BI_RLE4 (r9): nibble runs
        idx = _decode_rle4(b[off:], w, h)
        if idx is None or idx.max() >= n_colors:
            return None
        return pal[idx][::-1]
    if bpp == 4:  # uncompressed 4-bit: packed nibbles, padded rows
        stride = ((w + 1) // 2 + 3) & ~3
        if off + stride * h > len(b):
            return None
        raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
        rows = raw.reshape(h, stride)[:, : (w + 1) // 2]
        nibs = np.empty((h, 2 * ((w + 1) // 2)), dtype=np.uint8)
        nibs[:, 0::2] = rows >> 4
        nibs[:, 1::2] = rows & 0x0F
        idx = nibs[:, :w]
        if int(idx.max()) >= n_colors:
            return None
        out = pal[idx]
        return out if top_down else out[::-1]
    stride = (w + 3) & ~3
    if off + stride * h > len(b):
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
    idx = raw.reshape(h, stride)[:, :w]
    if idx.max() >= n_colors:
        return None
    rows = pal[idx]
    if not top_down:
        rows = rows[::-1]
    return rows


#: 8-bit palette/index synthesis formulas (mirrored in the oracle)
PAL_R_MULT, PAL_G_MULT, PAL_G_A, PAL_B_MULT, PAL_B_OFF = 7, 13, 2, 29, 5
IDX_Y_MULT = 3


def bmp8_palette(asset_id: int, j: int) -> tuple[int, int, int]:
    """(r, g, b) of palette entry j — linear-mod formulas the oracle
    recomputes symbolically."""
    return (
        (j * PAL_R_MULT + asset_id) % 256,
        (j * PAL_G_MULT + PAL_G_A * asset_id) % 256,
        (j * PAL_B_MULT + PAL_B_OFF) % 256,
    )


def bmp8_index(asset_id: int, x: int, y: int) -> int:
    return (x + IDX_Y_MULT * y + asset_id) % 256


def make_bmp8_paletted(
    w: int, h: int, palette: list[tuple[int, int, int]], idx_rows: list[list[int]]
) -> bytes:
    """Generic spec-valid 8-bit paletted BMP (BGRX color table,
    4-byte-aligned index rows, bottom-up) — used by the formula
    synthesizer below and directly by the property tests, so the
    container layout is exercised with arbitrary palettes/indices,
    not only formula ones."""
    n_colors = len(palette)
    stride = (w + 3) & ~3
    img_size = stride * h
    off = 14 + 40 + 4 * n_colors
    file_hdr = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, img_size, 2835, 2835, n_colors, 0
    )
    pal = b"".join(bytes((bb, gg, rr, 0)) for rr, gg, bb in palette)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = bytes(idx_rows[y]) + b"\x00" * (stride - w)
        rows.append(row)
    return file_hdr + info_hdr + pal + b"".join(rows)


def make_bmp8(asset_id: int) -> bytes:
    """Formula 8-bit paletted BMP: same dims as the 24-bit twin,
    palette and indices from the bmp8_* formulas."""
    w, h = bmp_params(asset_id)
    palette = [bmp8_palette(asset_id, j) for j in range(256)]
    idx_rows = [[bmp8_index(asset_id, x, y) for x in range(w)] for y in range(h)]
    return make_bmp8_paletted(w, h, palette, idx_rows)


def bmp8_index_rle(asset_id: int, x: int, y: int) -> int:
    """Index formula of the BI_RLE8 leg (r6), mirrored in the oracle:
    odd rows repeat each index three times along x (x // 3 — RLE
    encoded-mode runs), even rows are the run-free plain formula
    (absolute-mode segments), so one image exercises both RLE8
    payload shapes."""
    xe = x // 3 if y % 2 == 1 else x
    return (xe + IDX_Y_MULT * y + asset_id) % 256


def _rle8_encode_row(row: list[int]) -> bytes:
    """One stored row → RLE8 bytes (no EOL marker): runs ≥ 3 become
    encoded mode [count, index]; literal stretches of ≥ 3 become
    absolute mode [0, n, indices..., word pad]; stray 1–2 literals
    become count-1/2 encoded pairs."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and row[i + run] == row[i] and run < 255:
            run += 1
        if run >= 3:
            out += bytes([run, row[i]])
            i += run
            continue
        # literal stretch: until the next ≥3-run starts (or row end)
        j = i
        while j < n:
            r2 = 1
            while j + r2 < n and row[j + r2] == row[j] and r2 < 255:
                r2 += 1
            if r2 >= 3:
                break
            j += r2
        lit = row[i:j]
        for s in range(0, len(lit), 255):
            chunk = lit[s : s + 255]
            if len(chunk) >= 3:
                out += bytes([0, len(chunk)]) + bytes(chunk)
                if len(chunk) & 1:
                    out += b"\x00"  # absolute runs are word-aligned
            else:
                for v in chunk:
                    out += bytes([1, v])
        i = j
    return bytes(out)


def make_bmp8_rle(asset_id: int) -> bytes:
    """BI_RLE8-compressed 8-bit paletted BMP (r6): same palette
    formula as the plain leg, bmp8_index_rle indices, rows stored
    bottom-up, [0,0] end-of-line after every row and [0,1]
    end-of-bitmap closing the stream."""
    w, h = bmp_params(asset_id)
    palette = [bmp8_palette(asset_id, j) for j in range(256)]
    data = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        data += _rle8_encode_row([bmp8_index_rle(asset_id, x, y) for x in range(w)])
        data += b"\x00\x00" if y else b"\x00\x01"  # EOL; EOB after top row
    off = 14 + 40 + 4 * 256
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(data), 2835, 2835, 256, 0
    )
    pal = b"".join(bytes((bb, gg, rr, 0)) for rr, gg, bb in palette)
    return file_hdr + info_hdr + pal + bytes(data)


def _decode_rle8(data: bytes, w: int, h: int) -> np.ndarray | None:
    """RLE8 stream → (h, w) uint8 index array in STORED (bottom-up)
    row order, or None on corruption. Escapes per the BMP spec:
    [0,0] end of line, [0,1] end of bitmap, [0,2,dx,dy] cursor delta,
    [0,n≥3] absolute mode (word-aligned); pixels never written
    (skipped by EOL/EOB/delta) decode as index 0, the common real-
    decoder convention."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i, n = 0, len(data)
    while True:
        if i + 2 > n:
            return None  # ran out without end-of-bitmap
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # encoded run
            if y >= h or x + c > w:
                return None
            out[y, x : x + c] = v
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                return None
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if i + 2 > n:
                return None
            dx, dy = data[i], data[i + 1]
            i += 2
            x += dx
            y += dy
            if x > w or y > h:
                return None
        else:  # absolute mode: v literal indices
            if i + v > n or y >= h or x + v > w:
                return None
            out[y, x : x + v] = np.frombuffer(data, np.uint8, v, i)
            x += v
            i += v + (v & 1)  # word-aligned


def bmp4_index(asset_id: int, x: int, y: int) -> int:
    """Index formula of the BI_RLE4 leg (r9), mirrored in the oracle:
    y % 4 == 3 rows ALTERNATE two indices (one encoded run per row —
    the two-nibble pattern BI_RLE4 has and RLE8 lacks), other odd
    rows repeat indices 3× (solid encoded runs), even rows are the
    run-free formula (absolute-mode nibble segments)."""
    base = (IDX_Y_MULT * y + asset_id) % 16
    if y % 4 == 3:
        return base if x % 2 == 0 else (base + 7) % 16
    xe = x // 3 if y % 2 == 1 else x
    return (xe + IDX_Y_MULT * y + asset_id) % 16


def _rle4_encode_row(row: list[int]) -> bytes:
    """One stored row → RLE4 bytes (no EOL): maximal ALTERNATING-PAIR
    runs ≥ 3 become encoded mode [count, hi<<4|lo]; literal stretches
    of ≥ 3 become absolute mode [0, n, packed nibbles, word pad];
    1–2 leftovers become short encoded pairs."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and row[i + run] == row[i + (run % 2)] and run < 255:
            run += 1
        if run >= 3:
            out += bytes([run, (row[i] << 4) | row[i + 1]])
            i += run
            continue
        j = i
        while j < n:
            r2 = 1
            while j + r2 < n and row[j + r2] == row[j + (r2 % 2)] and r2 < 255:
                r2 += 1
            if r2 >= 3:
                break
            j += r2
        lit = row[i:j]
        for s in range(0, len(lit), 254):
            chunk = lit[s : s + 254]
            if len(chunk) >= 3:
                packed = bytearray()
                for k in range(0, len(chunk), 2):
                    hi = chunk[k]
                    lo = chunk[k + 1] if k + 1 < len(chunk) else 0
                    packed.append((hi << 4) | lo)
                if len(packed) & 1:
                    packed.append(0)  # absolute runs are word-aligned
                out += bytes([0, len(chunk)]) + packed
            elif len(chunk) == 2:
                out += bytes([2, (chunk[0] << 4) | chunk[1]])
            else:
                out += bytes([1, chunk[0] << 4])
        i = j
    return bytes(out)


def make_bmp4_rle(asset_id: int) -> bytes:
    """BI_RLE4-compressed 4-bit paletted BMP (r9): a 16-entry palette
    from the bmp8_palette formulas, bmp4_index indices, bottom-up
    rows, [0,0] EOL per row, [0,1] EOB."""
    w, h = bmp_params(asset_id)
    palette = [bmp8_palette(asset_id, j) for j in range(16)]
    data = bytearray()
    for y in range(h - 1, -1, -1):
        data += _rle4_encode_row([bmp4_index(asset_id, x, y) for x in range(w)])
        data += b"\x00\x00" if y else b"\x00\x01"
    off = 14 + 40 + 4 * 16
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 4, 2, len(data), 2835, 2835, 16, 0
    )
    pal = b"".join(bytes((bb, gg, rr, 0)) for rr, gg, bb in palette)
    return file_hdr + info_hdr + pal + bytes(data)


def _decode_rle4(data: bytes, w: int, h: int) -> np.ndarray | None:
    """RLE4 stream → (h, w) uint8 index array in STORED (bottom-up)
    order, or None. Same escapes as RLE8; encoded mode ALTERNATES the
    byte's two nibbles (hi first), absolute mode packs nibbles
    hi-first and pads its BYTE count to word alignment."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i, n = 0, len(data)
    while True:
        if i + 2 > n:
            return None
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # encoded run: alternate hi/lo nibbles
            if y >= h or x + c > w:
                return None
            hi, lo = v >> 4, v & 0x0F
            for k in range(c):
                out[y, x + k] = hi if k % 2 == 0 else lo
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                return None
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if i + 2 > n:
                return None
            dx, dy = data[i], data[i + 1]
            i += 2
            x += dx
            y += dy
            if x > w or y > h:
                return None
        else:  # absolute: v literal nibbles, word-aligned byte count
            nb = (v + 1) // 2
            if i + nb > n or y >= h or x + v > w:
                return None
            for k in range(v):
                byte = data[i + k // 2]
                out[y, x + k] = (byte >> 4) if k % 2 == 0 else (byte & 0x0F)
            x += v
            i += nb + (nb & 1)


BMP_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

BMP_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
    ]
)


def synthesize_bmp(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """One BMP per input row, built worker-side."""
    return map_rows(ids, BMP_ASSET_SCHEMA, lambda a: [(a, make_bmp(a))], id_col)


def bmp_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode every payload and aggregate exact integer channel sums
    (Arrow-batched; stats are order-invariant ints, so the result is
    engine-portable). Undecodable payloads → NULL stats."""

    def stats(aid, payload):
        img = decode_bmp(payload) if payload is not None else None
        if img is None:
            return [(aid,)]
        h, w, _ = img.shape
        r, g, b = (int(v) for v in img.reshape(-1, 3).astype(np.int64).sum(axis=0))
        return [(aid, w, h, w * h, r, g, b)]

    return map_rows(assets, BMP_STATS_SCHEMA, stats, "asset_id", "payload")


def synthesize_bmp_mixed(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """Even asset_ids → 24-bit BI_RGB, % 4 == 1 → plain 8-bit
    paletted (r5), % 8 == 3 → BI_RLE8-compressed 8-bit paletted
    (r6), % 8 == 7 → BI_RLE4-compressed 4-BIT paletted (r9 — the
    nibble-run codec: alternating-pair encoded runs, nibble-packed
    absolute segments)."""

    def _mk(a: int) -> bytes:
        if a % 2 == 0:
            return make_bmp(a)
        if a % 4 == 1:
            return make_bmp8(a)
        return make_bmp4_rle(a) if a % 8 == 7 else make_bmp8_rle(a)

    return map_rows(ids, BMP_ASSET_SCHEMA, lambda a: [(a, _mk(a))], id_col)

