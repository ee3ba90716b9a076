"""Real GIF decode, no media libraries: GIF87a's pixel path is LZW
(pure arithmetic — the shared engine in ``multimodal/lzw.py``,
both directions, under ``GIF_LZW``) over palette indices, so the full pipeline runs for
real in this sandbox, completing the decoder set (BMP: struct+numpy,
PNG: zlib+filters, WAV: RIFF walk, GIF: LZW). Only JPEG remains a
documented stub (its entropy coding + DCT needs a real codec).

Synthesis is deliberately adversarial for the decoder: the palette
and the index map are both arithmetic formulas of (asset_id, x, y),
the LZW stream uses variable code widths up to the 4096-entry table
limit with mid-stream CLEAR codes, and the byte stream is split into
≤255-byte sub-blocks per the spec. The DuckDB oracle recomputes the
expected channel sums FROM THE FORMULAS (palette lookup inlined as
arithmetic on the index) while Spark computes them FROM THE DECODED
BYTES. The LZW decoder is additionally pinned against two
hand-computed bit streams (including the KwKwK corner case) in
tests/test_multimodal_gif.py, so a matched encoder/decoder bug pair
cannot cancel out.
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

#: deterministic synthesis parameters (mirrored in the oracle SQL —
#: keep in sync with queries/addenda.py::MULTIMODAL_GIF_DECODE_SQL)
GIF_W_MOD, GIF_H_MOD = 17, 13
GIF_IDX_XM, GIF_IDX_YM = 7, 11
PAL_RM, PAL_GM, PAL_BM = 3, 5, 7


def gif_params(asset_id: int) -> tuple[int, int]:
    return 6 + asset_id % GIF_W_MOD, 5 + asset_id % GIF_H_MOD


def pixel_index(asset_id: int, x: int, y: int) -> int:
    return (x * GIF_IDX_XM + y * GIF_IDX_YM + asset_id) % 256


def palette_rgb(i: int) -> tuple[int, int, int]:
    return (PAL_RM * i) % 256, (PAL_GM * i + 1) % 256, (PAL_BM * i + 2) % 256


#: GIF's LZW rules: LSB-first codes, widen at 2^w, reset at 4096
GIF_LZW = LzwRules(msb_first=False, early_change=0, max_table=4096)


# ------------------------------------------------------------------- GIF

def make_gif(asset_id: int) -> bytes:
    """Spec-valid GIF87a: header + logical screen descriptor + 256-
    entry global color table (formula palette) + image descriptor +
    LZW image data in ≤255-byte sub-blocks + trailer."""
    w, h = gif_params(asset_id)
    pal = b"".join(bytes(palette_rgb(i)) for i in range(256))
    idx = bytes(
        pixel_index(asset_id, x, y) for y in range(h) for x in range(w)
    )
    lzw = lzw_encode(idx, 8, GIF_LZW)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 8-bit, 256 entries
        + pal
        + b","  # image separator
        + struct.pack("<HHHHB", 0, 0, w, h, 0)  # no LCT, not interlaced
        + bytes([8])  # LZW minimum code size
        + bytes(blocks)
        + b";"
    )


#: local-color-table palette formulas (r5 — distinct from the global
#: palette so using the wrong table breaks the formula oracle)
LCT_RM, LCT_GM, LCT_BM = 7, 11, 13


def lct_rgb(asset_id: int, i: int) -> tuple[int, int, int]:
    return (
        (LCT_RM * i + asset_id) % 256,
        (LCT_GM * i + 3) % 256,
        (LCT_BM * i + 2 * asset_id) % 256,
    )


def make_gif_lct(asset_id: int) -> bytes:
    """GIF89a whose image carries a LOCAL color table that must
    OVERRIDE the (deliberately different, decoy) global table — a
    decoder that reads the GCT instead produces wrong channel sums
    and fails the oracle. Also exercises the 89a signature and the
    LCT-size flag parsing."""
    w, h = gif_params(asset_id)
    decoy = b"".join(bytes(palette_rgb(i)) for i in range(256))
    lct = b"".join(bytes(lct_rgb(asset_id, i)) for i in range(256))
    idx = bytes(
        pixel_index(asset_id, x, y) for y in range(h) for x in range(w)
    )
    lzw = lzw_encode(idx, 8, GIF_LZW)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # decoy GCT present
        + decoy
        + b","
        + struct.pack("<HHHHB", 0, 0, w, h, 0x87)  # LCT flag, 256 entries
        + lct
        + bytes([8])
        + bytes(blocks)
        + b";"
    )


def interlace_order(h: int) -> list[int]:
    """GIF 4-pass interlace row sequence (storage order → display
    row): rows 0,8,16… then 4,12… then 2,6,10… then 1,3,5…"""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def make_gif_interlaced(asset_id: int) -> bytes:
    """GIF87a with the INTERLACE flag set (r5): same global palette
    and pixel formula as make_gif, but index rows stored in the
    4-pass interlace sequence — channel sums are permutation-
    invariant, so the deinterlacing itself is pinned by hand-order
    tests, not the formula oracle."""
    w, h = gif_params(asset_id)
    pal = b"".join(bytes(palette_rgb(i)) for i in range(256))
    rows = [
        bytes(pixel_index(asset_id, x, y) for x in range(w))
        for y in range(h)
    ]
    idx = b"".join(rows[y] for y in interlace_order(h))
    lzw = lzw_encode(idx, 8, GIF_LZW)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
        + pal
        + b","
        + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlaced
        + bytes([8])
        + bytes(blocks)
        + b";"
    )


#: animated-leg formulas (r6, mirrored in the oracle): frame count,
#: per-frame pixel-index offset, per-frame delay in centiseconds
ANIM_FM = 17


def gif_frames(asset_id: int) -> int:
    return 2 + asset_id % 3


def anim_index(asset_id: int, f: int, x: int, y: int) -> int:
    return (x * GIF_IDX_XM + y * GIF_IDX_YM + asset_id + ANIM_FM * f) % 256


def gif_delay(asset_id: int, f: int) -> int:
    return 4 + (asset_id + f) % 10


def make_gif_animated(asset_id: int) -> bytes:
    """ANIMATED GIF89a (r6): NETSCAPE2.0 looping application
    extension, then gif_frames full-screen frames, each preceded by
    a Graphic Control Extension carrying its gif_delay — the
    real-world animation layout. All frames share the global color
    table; frame f's pixels follow anim_index(·, f, ·, ·)."""
    w, h = gif_params(asset_id)
    pal = b"".join(bytes(palette_rgb(i)) for i in range(256))
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += pal
    # NETSCAPE looping extension (application extension 0xFF)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in range(gif_frames(asset_id)):
        out += b"\x21\xf9\x04"  # GCE: 4-byte block
        out += struct.pack("<BHB", 0, gif_delay(asset_id, f), 0)
        out += b"\x00"  # GCE terminator
        idx = bytes(
            anim_index(asset_id, f, x, y) for y in range(h) for x in range(w)
        )
        lzw = lzw_encode(idx, 8, GIF_LZW)
        out += b","
        out += struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes([8])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b";"
    return bytes(out)


def decode_gif_frames(
    b: bytes,
) -> tuple[int, int, list[tuple[int, int, np.ndarray, int]]] | None:
    """Full multi-image GIF walk (r6): bytes → (screen_w, screen_h,
    frames) with frames = [(x0, y0, rgb_array, delay_cs), ...] in
    stream order — Graphic Control Extensions are parsed for the
    per-frame delay (and apply to the NEXT image only, per 89a),
    other extensions are skipped, each image may carry its own local
    color table and interlacing. No disposal compositing is invented:
    frames are returned as decoded, which is exactly what per-frame
    statistics need. None on any malformation."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    gpal = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(b):
            return None
        gpal = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    frames: list[tuple[int, int, np.ndarray, int]] = []
    delay = 0  # from the pending GCE, if any
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            return (sw, sh, frames) if frames else None
        if marker == 0x21:  # extension: label + sub-blocks
            if pos >= len(b):
                return None
            label = b[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                if pos >= len(b) or b[pos] != 4 or pos + 5 > len(b):
                    return None
                delay = struct.unpack("<H", b[pos + 2 : pos + 4])[0]
                pos += 5
                if pos >= len(b) or b[pos] != 0:
                    return None
                pos += 1
            else:  # any other extension: skip its sub-blocks
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            continue
        if marker != 0x2C:  # image separator
            return None
        if pos + 9 > len(b):
            return None
        x0, y0, w, h, iflags = struct.unpack("<HHHHB", b[pos : pos + 9])
        pos += 9
        interlaced = bool(iflags & 0x40)
        pal = gpal
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            if pos + 3 * n > len(b):
                return None
            pal = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pal is None or pos >= len(b):
            return None
        min_code = b[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            return None
        lzw = bytearray()
        while pos < len(b) and b[pos] != 0:
            blen = b[pos]
            if pos + 1 + blen > len(b):
                return None
            lzw += b[pos + 1 : pos + 1 + blen]
            pos += 1 + blen
        pos += 1  # sub-block terminator
        idx = lzw_decode(bytes(lzw), min_code, GIF_LZW)
        if idx is None or len(idx) != w * h or w <= 0 or h <= 0:
            return None
        arr = np.frombuffer(idx, np.uint8).reshape(h, w)
        if interlaced:
            out = np.empty_like(arr)
            out[interlace_order(h)] = arr
            arr = out
        if int(arr.max()) >= len(pal):
            return None
        frames.append((x0, y0, pal[arr], delay))
        delay = 0  # a GCE governs only the image that follows it
    return None  # ran out without a trailer


def decode_gif(b: bytes) -> np.ndarray | None:
    """bytes → (h, w, 3) uint8 RGB array, or None for anything that
    is not a well-formed GIF87a/89a with a color table (global, or a
    local one overriding it). Walks the block structure (skipping 89a
    extension blocks), reassembles the LZW sub-blocks, decodes,
    DEINTERLACES 4-pass images (r5), and applies the palette."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    pal = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(b):
            return None
        pal = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            return None  # no image block found
        if marker == 0x21:  # 89a extension: label + sub-blocks
            pos += 1
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:  # image separator
            return None
        if pos + 9 > len(b):
            return None
        _x0, _y0, w, h, iflags = struct.unpack("<HHHHB", b[pos : pos + 9])
        pos += 9
        interlaced = bool(iflags & 0x40)  # r5: 4-pass deinterlace below
        if iflags & 0x80:  # local color table overrides
            n = 2 << (iflags & 0x07)
            if pos + 3 * n > len(b):
                return None
            pal = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pal is None or pos >= len(b):
            return None
        min_code = b[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            return None
        lzw = bytearray()
        while pos < len(b) and b[pos] != 0:
            blen = b[pos]
            if pos + 1 + blen > len(b):
                return None
            lzw += b[pos + 1 : pos + 1 + blen]
            pos += 1 + blen
        idx = lzw_decode(bytes(lzw), min_code, GIF_LZW)
        if idx is None or len(idx) != w * h or w <= 0 or h <= 0:
            return None
        arr = np.frombuffer(idx, np.uint8).reshape(h, w)
        if interlaced:
            out = np.empty_like(arr)
            out[interlace_order(h)] = arr  # storage row i → display row
            arr = out
        if int(arr.max()) >= len(pal):
            return None
        return pal[arr]
    return None


GIF_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

GIF_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("total_delay_cs", LongType(), True),
    ]
)


def synthesize_gif_mixed(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """asset_id % 4 == 0 → GIF87a with a global color table, % 8 ==
    2 → GIF89a with a local table overriding a decoy global, % 8 ==
    6 → ANIMATED GIF89a (gif_frames full-screen frames with GCE
    delays and a NETSCAPE loop extension — r6), odd → INTERLACED
    GIF87a (r5; same palette/pixels as the plain leg — the
    deinterlace permutation is pinned by hand-order tests)."""

    def _mk(a: int) -> bytes:
        if a % 2 == 1:
            return make_gif_interlaced(a)
        if a % 4 == 0:
            return make_gif(a)
        return make_gif_lct(a) if a % 8 == 2 else make_gif_animated(a)

    return map_rows(ids, GIF_ASSET_SCHEMA, lambda a: [(a, _mk(a))], id_col)


def synthesize_gif(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    return map_rows(ids, GIF_ASSET_SCHEMA, lambda a: [(a, make_gif(a))], id_col)


def gif_pixel_stats(assets: DataFrame) -> DataFrame:
    """Per-asset stats over ALL frames (r6 — decode_gif_frames):
    width/height from the screen descriptor, n_px the total decoded
    pixels across frames, channel sums across frames, the frame
    count, and the summed GCE delays (0 for still images)."""

    def stats(aid, payload):
        res = decode_gif_frames(payload) if payload is not None else None
        if res is None:
            return [(aid,)]
        sw, sh, frames = res
        s = np.zeros(3, dtype=np.int64)
        n_px = 0
        for _x0, _y0, img, _delay in frames:
            s += img.reshape(-1, 3).astype(np.int64).sum(axis=0)
            n_px += img.shape[0] * img.shape[1]
        r, g, b = (int(v) for v in s)
        return [(aid, sw, sh, n_px, r, g, b, len(frames), sum(f[3] for f in frames))]

    return map_rows(assets, GIF_STATS_SCHEMA, stats, "asset_id", "payload")
