"""Image perceptual-hash (dHash) dedup — the bridge between the
decoder matrix and the dedup pillar.

The classic near-duplicate-image pipeline (web-scale image corpora
dedupe on perceptual hashes, not byte hashes, because re-encodes and
tiny edits change every byte): decode → grayscale → downsample to a
9x8 grid → difference hash (64 bits: cell (cx, cy) brighter than its
right neighbour) → banded Hamming search for pairs within distance d.

Everything here is EXACT integer arithmetic so the DuckDB oracle can
recompute the fingerprints from the pixel FORMULA while Spark computes
them from really-decoded container bytes (mixed BMP / PNG / JPEG /
TIFF since r7 — web image corpora are mostly JPEG — routed by magic
numbers through the in-repo decoders; JPEG through the fixed-point
integer IDCT pixel path):

- luma      = 299*R + 587*G + 114*B         (Rec. 601 x1000, integer)
- cell of x = x*9 // w   (cols, 0..8)        exact area partition
- cell of y = y*8 // h   (rows, 0..7)
- bit(cx, cy), cx<8 = [ s[cx]*n[cx+1] > s[cx+1]*n[cx] ]   — the
  mean comparison cross-multiplied into integers (s = cell luma sum,
  n = cell pixel count; counts differ because w, h need not divide
  by 9/8).
- fingerprint = 16-hex-char string of the 64-bit value with bit
  (cy*8 + cx) at weight 2^(63 - (cy*8+cx))  (MSB-first raster order).

Near-dup planting: assets pair up as gid = asset_id // 2; the odd
variant re-renders the SAME image with one grid CELL (i0, j0)
brightness-shifted. A single cell participates in at most two
difference bits (its left and right comparisons), so every planted
pair is within Hamming distance 2 <= max_dist = 3, while unrelated
images differ in ~32 bits — the same exact-by-pigeonhole banded
search as text SimHash applies unchanged.

Scale: synthesis → decode → hash is one map_rows chain (row-linear,
zero shuffle); pair search is the shared banded equi-join
(operators/dedup.py::banded_hamming64_pairs). No all-pairs anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

#: synthesis formula constants (mirrored in the oracle SQL)
PH_W_MOD, PH_H_MOD = 13, 11  # w = 16 + gid % 13, h = 16 + gid % 11
PH_R = (7, 11, 3)  # r = (7x + 11y + 3*gid) % 256
PH_G = (5, 13, 7)
PH_B = (3, 17, 11)
PH_DELTA_BASE, PH_DELTA_MOD = 40, 50  # delta = 40 + gid % 50

#: JPEG leg (r7): grayscale DC-only, 9×8 blocks of 8×8 px (72×64) so
#: every dHash grid cell is EXACTLY one JPEG block — the planted
#: perturbation shifts one block's DC, hence one cell, hence ≤ 2
#: difference bits, same pigeonhole bound as the RGB legs. The dc
#: range and delta are chosen so dc + delta < 128: no pixel ever
#: clamps, keeping the oracle's cell sums linear in the formula.
PHJ_BW, PHJ_BH = 9, 8  # block grid == dHash grid
PHJ_DC = (3, 5, 7)  # dc = (3·bx + 5·by + 7·gid) % 150 - 75
PHJ_DC_MOD, PHJ_DC_OFF = 150, -75
PHJ_DELTA_BASE, PHJ_DELTA_MOD = 20, 30  # delta_j = 20 + gid % 30
#: r8 COLOR sub-leg (gid % 8 == 2): chroma DC formula offset per
#: component — cb/cr dc = (3·bx + 5·by + 7·gid + 53·c) % 150 − 75.
#: The perturbation stays LUMA-only, so through the integer Rec.601
#: conversion each of R/G/B shifts by (at most, pre-clamp exactly)
#: delta_j in the one perturbed cell — still a ≤ 2-bit flip.
PHJ_C_MULT = 53


def phj_dc(gid: int, variant: int, bx: int, by: int) -> int:
    """JPEG-leg DC of block (bx, by); the odd variant shifts block
    (i0, j0) by delta_j (no wrap — the DC-only sub-leg is clamp-free
    by construction; the AC sub-leg clamps and the oracle replicates
    the clamp through the shared fixed-point IDCT arithmetic)."""
    _, _, i0, j0, _ = phash_params(gid)
    dc = (PHJ_DC[0] * bx + PHJ_DC[1] * by + PHJ_DC[2] * gid) % PHJ_DC_MOD + PHJ_DC_OFF
    if variant == 1 and bx == i0 and by == j0:
        dc += PHJ_DELTA_BASE + gid % PHJ_DELTA_MOD
    return dc


def phj_dc_chroma(gid: int, c: int, bx: int, by: int) -> int:
    """Chroma DC (c ∈ {1, 2}) of the r8 COLOR sub-leg — same formula
    family as phj_dc shifted by PHJ_C_MULT·c, identical across both
    variants (the planted perturbation is luma-only)."""
    return (
        PHJ_DC[0] * bx + PHJ_DC[1] * by + PHJ_DC[2] * gid + PHJ_C_MULT * c
    ) % PHJ_DC_MOD + PHJ_DC_OFF


def phash_params(gid: int) -> tuple[int, int, int, int, int]:
    """(w, h, i0, j0, delta) for a pair group."""
    return (
        16 + gid % PH_W_MOD,
        16 + gid % PH_H_MOD,
        1 + gid % 7,  # perturbed grid col, 1..7 (interior: 2 bits max)
        gid % 8,  # perturbed grid row
        PH_DELTA_BASE + gid % PH_DELTA_MOD,
    )


def _pixel(gid: int, variant: int, x: int, y: int) -> tuple[int, int, int]:
    w, h, i0, j0, delta = phash_params(gid)
    r = (PH_R[0] * x + PH_R[1] * y + PH_R[2] * gid) % 256
    g = (PH_G[0] * x + PH_G[1] * y + PH_G[2] * gid) % 256
    b = (PH_B[0] * x + PH_B[1] * y + PH_B[2] * gid) % 256
    if variant == 1 and (x * 9) // w == i0 and (y * 8) // h == j0:
        r = (r + delta) % 256
    return r, g, b


def make_phash_asset(asset_id: int) -> bytes:
    """Container bytes for one asset, routed by gid % 4 (r7 widened
    the corpus from BMP/PNG to the full decoder matrix): 0 → 24-bit
    BMP, 1 → RGBA PNG (alpha 255 — ignored by luma), 3 → uncompressed
    RGB TIFF — all three rendering the SAME RGB pixel formula so the
    oracle needs one arithmetic branch per FAMILY, not per container —
    and 2 → grayscale JPEG (web corpora are mostly JPEG; the dHash
    grid aligns block-exactly, see phj_dc) — gid % 8 == 2 DC-only,
    gid % 8 == 6 AC-BEARING (r7: real spectra through the fixed-point
    IDCT pixel path). Reuses the
    spec-valid writers the decode queries already pin byte-by-byte."""
    from queryengine_spark.multimodal import png as pngmod

    gid, variant = asset_id // 2, asset_id % 2
    w, h, _, _, _ = phash_params(gid)

    def px(x: int, y: int) -> tuple[int, int, int]:
        return _pixel(gid, variant, x, y)

    leg = gid % 4
    if leg == 0:
        return _bmp_container(w, h, px)
    if leg == 1:
        return _png_container(w, h, px, pngmod)
    if leg == 2:
        return _jpeg_container(gid, variant, with_ac=(gid % 8 == 6))
    return _tiff_container(w, h, px)


def _bmp_container(w: int, h: int, px) -> bytes:
    import struct

    row_stride = (w * 3 + 3) & ~3
    img_size = row_stride * h
    off = 14 + 40
    file_hdr = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = px(x, y)
            row += bytes((b, g, r))  # BGR
        row += b"\x00" * (row_stride - len(row))
        rows.append(bytes(row))
    return file_hdr + info_hdr + b"".join(rows)


def _png_container(w: int, h: int, px, pngmod) -> bytes:
    import struct
    import zlib

    prev = bytes(w * 4)
    stream = bytearray()
    for y in range(h):
        raw = bytes(v for x in range(w) for v in (*px(x, y), 255))
        f = y % 5  # exercise all five filters
        stream.append(f)
        stream += pngmod._filter_row(f, raw, prev)
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    ihdr = struct.pack(">II5B", w, h, 8, 6, 0, 0, 0)
    return (
        pngmod._SIG
        + pngmod._chunk(b"IHDR", ihdr)
        + pngmod._chunk(b"IDAT", comp)
        + pngmod._chunk(b"IEND", b"")
    )


def _jpeg_container(gid: int, variant: int, with_ac: bool) -> bytes:
    """Baseline JFIF, 9×8 blocks (72×64 px): every dHash cell is
    exactly one block. DC-only sub-leg (gid%8==2): since r8 a
    3-component YCbCr 4:4:4 COLOR container — luma DC = phj_dc
    (variant perturbation included), chroma DCs = phj_dc_chroma —
    decoded to RGB through the pinned integer Rec.601 path, so the
    phash JPEG family hashes COLOR, not replicated luma. AC sub-leg
    (gid%8==6, r7, grayscale): the shared block_ac formula plants
    coefficients at the decode query's zigzag positions (keyed on
    gid so BOTH variants carry identical spectra — the planted
    perturbation stays DC-only, hence one cell, hence ≤ 2 difference
    bits even through the IDCT and its clamp), and pixels decode
    through the pinned fixed-point integer IDCT that the oracle
    replicates."""
    from queryengine_spark.multimodal.jpeg import (
        AC_POSITIONS,
        _container,
        _encode_scan,
        block_ac,
        build_jpeg_ycc_dc,
    )

    if not with_ac:  # r8: color 4:4:4 DC-only
        def dcfn(c: int, bx: int, by: int) -> int:
            if c == 0:
                return phj_dc(gid, variant, bx, by)
            return phj_dc_chroma(gid, c, bx, by)

        return build_jpeg_ycc_dc(PHJ_BW, PHJ_BH, dcfn)

    blocks = []
    for by in range(PHJ_BH):
        for bx in range(PHJ_BW):
            coefs = [0] * 64
            coefs[0] = phj_dc(gid, variant, bx, by)
            for p in AC_POSITIONS:
                coefs[p] = block_ac(gid, bx, by, p)
            blocks.append(coefs)
    return _container(PHJ_BW, PHJ_BH, _encode_scan(blocks))


def _tiff_container(w: int, h: int, px) -> bytes:
    """Uncompressed RGB TIFF (little-endian, multi-strip) rendering
    the same pixel formula as the BMP/PNG legs."""
    from queryengine_spark.multimodal.tiff import TIF_ROWS_PER_STRIP, _build_tiff

    rps = TIF_ROWS_PER_STRIP  # _build_tiff writes this tag value
    strips = [
        b"".join(
            bytes(px(x, y))
            for y in range(y0, min(y0 + rps, h))
            for x in range(w)
        )
        for y0 in range(0, h, rps)
    ]
    return _build_tiff(
        big_endian=False, w=w, h=h, spp=3, photometric=2,
        compression=1, strips=strips,
    )


PHASH_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def synthesize_phash_assets(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    return map_rows(ids, PHASH_ASSET_SCHEMA, lambda a: [(a, make_phash_asset(a))], id_col)


def dhash64(arr: np.ndarray) -> str:
    """(h, w, >=3) uint8 array → 16-hex-char dHash fingerprint.
    Integer-exact: scaled Rec. 601 luma, cross-multiplied cell-mean
    comparisons (no division anywhere)."""
    h, w = arr.shape[0], arr.shape[1]
    rgb = arr[..., :3].astype(np.int64)
    lum = 299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]
    cx = (np.arange(w, dtype=np.int64) * 9) // w  # per-column cell
    cy = (np.arange(h, dtype=np.int64) * 8) // h  # per-row cell
    s = np.zeros((8, 9), dtype=np.int64)
    n = np.zeros((8, 9), dtype=np.int64)
    np.add.at(s, (cy[:, None], cx[None, :]), lum)
    np.add.at(n, (cy[:, None], cx[None, :]), 1)
    # bit (cy, cx): mean(cell cx) > mean(cell cx+1), cross-multiplied
    bits = s[:, :8] * n[:, 1:] > s[:, 1:] * n[:, :8]  # (8, 8)
    v = 0
    for k, b in enumerate(bits.reshape(64)):
        if b:
            v |= 1 << (63 - k)
    return "%016x" % v


PHASH_FP_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("sim", StringType()),
    ]
)


def decode_image(b: bytes) -> np.ndarray | None:
    """Magic-byte dispatch through the in-repo decoders (BMP / PNG /
    GIF / TIFF / JPEG); None when nothing understands the payload."""
    from queryengine_spark.multimodal.bmp import decode_bmp
    from queryengine_spark.multimodal.gif import decode_gif
    from queryengine_spark.multimodal.jpeg import decode_jpeg_rgb
    from queryengine_spark.multimodal.png import decode_png
    from queryengine_spark.multimodal.tiff import decode_tiff

    if b[:2] == b"BM":
        return decode_bmp(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(b)
    if b[:2] in (b"II", b"MM"):
        return decode_tiff(b)
    if b[:2] == b"\xff\xd8":
        # r8: 3-component payloads come back as REAL RGB (integer
        # upsample + Rec.601); grayscale replicates
        return decode_jpeg_rgb(b)
    return None


def dhash_relation(assets: DataFrame) -> DataFrame:
    """(id, sim): really decode each payload (magic-byte dispatch —
    BMP / PNG / GIF, anything the in-repo decoders understand) and
    fingerprint the pixels. Undecodable payloads are dropped (NULL
    would poison the band join)."""
    def fingerprint(aid, payload):
        arr = decode_image(payload or b"")
        if arr is None or arr.ndim != 3 or arr.shape[2] < 3:
            return ()
        return [(aid, dhash64(arr))]

    return map_rows(assets, PHASH_FP_SCHEMA, fingerprint, "asset_id", "payload")


def image_near_dup_pairs(
    ids: DataFrame, max_dist: int = 3, n_bands: int = 4
) -> DataFrame:
    """End-to-end: synthesize container bytes → decode → dHash →
    banded Hamming pairs (id_a, id_b, hamming)."""
    from queryengine_spark.operators.dedup import banded_hamming64_pairs

    fp = dhash_relation(synthesize_phash_assets(ids))
    return banded_hamming64_pairs(fp, max_dist=max_dist, n_bands=n_bands)
