"""Baseline, progressive and lossless JPEG decoded with no media
libraries, plus the synthesizers that build the test corpora.

A payload is decoded in three steps, each run once per payload:

1. **Walk** (:func:`_walk`). One pass over the markers: SOI, DQT
   (8-bit Pq=0 and 16-bit Pq=1 tables, several per segment), DHT
   (canonical Huffman tables built FROM THE SEGMENT BYTES — nothing
   is baked in), DRI, the SOF0/SOF2/SOF3 frame header, every SOS and
   EOI, with 0xFF fill bytes skipped before any marker. One entropy
   splitter unstuffs 0xFF00 and cuts each scan at its RST0..RST7
   markers, whose sequence numbers it checks. The walk returns the
   frame (SOF kind, precision, size, components with sampling
   factors h, v ∈ 1..4) and every scan with the tables and restart
   interval in force at that scan.
2. **Decode.** :func:`_decode_dct` replays the scans of a sequential
   (SOF0) or progressive (SOF2, Annex G spectral selection and
   successive approximation) frame, 1 or 3 components, into
   ``(w, h, per-component dequantized natural-order coefficient
   arrays over the real blocks, hv)``. :func:`_decode_sof3` runs the
   lossless predictor loop (Annex H) on the same walk.
3. **Views.** Every public ``decode_jpeg_*`` is a view of one decode:
   the coefficients as decoded; pixels through the pinned
   fixed-point integer IDCT (:func:`idct8_fixed`, whose arithmetic
   the DuckDB oracle replicates in BIGINT); full-resolution RGB
   through the pinned integer upsample and Rec.601 inverse; and the
   legacy DC-only profile (every q0 ≡ 0 mod 8, every AC zero, every
   pixel dc/8 + 128 in 0..255), which the IDCT reproduces
   bit-exactly. :func:`decode_jpeg_rgb` and :func:`jpeg_full_stats`
   dispatch on the SOF kind and the component count.

Refusals are None, never a guess or an exception: SOF1 and
SOF5..SOF7 frames (arithmetic-coded SOF9+ streams carry no SOF the
walk accepts), DQT precisions Pq ≥ 2, sampling factors outside 1..4,
an interleaved MCU of more than 10 blocks, a DRI in a lossless scan,
zero width or height, a frame with more blocks than its entropy data
has bits, truncated or mis-sequenced entropy data, and progressive
scans that break the Annex G scan-script rules.

Correctness: the DuckDB oracle recomputes pixel sums from the DC
formula and coefficient sums from the AC formula while Spark decodes
the actual bitstreams; the entropy decoder is additionally pinned
against HAND-ASSEMBLED scans in tests/test_multimodal_jpeg.py —
single-block, negative diffs, byte unstuffing, and an AC vector with
ZRL runs — so a matched encoder/decoder bug pair cannot cancel, plus
refusal probes for wrong precision and truncation, plus a hypothesis
property suite round-tripping random sparse coefficient blocks
through the generic encoder. tests/test_jpeg_pipeline.py keeps the
per-profile decoders this pipeline replaced as a differential oracle.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

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
#: keep in sync with queries/addenda.py::MULTIMODAL_JPEG_DECODE_SQL).
#: Dimensions are in 8x8 BLOCKS; dc values span the full signed
#: 8-entropy-bit range to exercise multi-category Huffman codes.
JPEG_BW_MOD, JPEG_BH_MOD = 5, 3
DC_MULT, DC_MOD, DC_OFF = 37, 201, -100  # dc in [-100, 100]
QUANT_DC = 8  # q multiple of 8 -> pixel = dc + 128 exactly


def jpeg_params(asset_id: int) -> tuple[int, int]:
    """(blocks_w, blocks_h); pixel dims are 8x those."""
    return 1 + asset_id % JPEG_BW_MOD, 1 + asset_id % JPEG_BH_MOD


def block_dc(asset_id: int, bx: int, by: int) -> int:
    """The dequantized-domain-INPUT dc coefficient of block (bx, by):
    every pixel of the block decodes to block_dc + 128 (see module
    docstring). Range [-100, 100]."""
    return (asset_id + 13 * bx + 31 * by) * DC_MULT % DC_MOD + DC_OFF


#: standard Annex K luminance DC table: BITS (codes per length 1..16)
#: and HUFFVAL (categories in code order)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
#: standard Annex K luminance AC table (only EOB = run/size 0x00 is
#: ever emitted, but the full table ships in the DHT segment)
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


#: (bits, vals) → canonical code map. The tables are drawn from a
#: small fixed set (Annex K + the synth variants) but were rebuilt
#: for EVERY image's DHT segment — measured ~1.6 s of pure table
#: reconstruction per decode pass at sf0.1 (guide §4.5: heavyweight
#: init once, not per row). Callers treat the returned dict as
#: read-only.
_CANONICAL_MEMO: dict[tuple[bytes, bytes], dict[int, tuple[int, int]]] = {}

#: entries a Huffman memo keeps. Files can carry arbitrary DHT
#: tables, so a long-lived worker decoding many of them would grow its
#: memos without limit; past the cap a memo starts over. A decode
#: table holds a 65,536-entry LUT, so the cap bounds that memo near
#: 32 MB. Real inputs reuse a handful of tables and never reach it.
_MEMO_MAX = 64


def _memoize(memo: dict, key, value):
    if len(memo) >= _MEMO_MAX:
        memo.clear()
    memo[key] = value
    return value


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value → (code, length) canonical Huffman assignment (JPEG
    C.2): codes of each length count up from (prev + 1) << 1.
    Memoized on the table content (read-only result)."""
    key = (bytes(bits), bytes(vals))
    hit = _CANONICAL_MEMO.get(key)
    if hit is not None:
        return hit
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return _memoize(_CANONICAL_MEMO, key, out)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        # whole-code accumulate (bit-identical to the former per-bit
        # loop: same byte emission order, same 0xFF00 stuffing) —
        # put() dominated the encode profile at ~1 µs/bit
        acc = (self.acc << length) | (code & ((1 << length) - 1))
        n = self.n + length
        out = self.out
        while n >= 8:
            n -= 8
            byte = (acc >> n) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # byte stuffing
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def align(self) -> None:
        """Pad the current partial byte with 1-bits (JPEG B.2.1 byte
        alignment before a restart marker); no-op when aligned."""
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.n = 0, 0

    def marker(self, m: int) -> None:
        """Emit a raw marker (0xFF m) into the entropy stream —
        markers are never byte-stuffed; caller aligns first."""
        assert self.n == 0
        self.out += bytes([0xFF, m])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


#: zigzag scan order: scan index k → (row, col); even diagonals are
#: walked bottom-left→top-right, odd ones top-right→bottom-left
#: (generated, not transcribed — a transposition bug in a hand-typed
#: table is exactly the kind the property tests could miss if the
#: encoder shared it, so the tests pin known positions independently)
def _zigzag_pairs() -> list[tuple[int, int]]:
    out: list[tuple[int, int]] = []
    for s in range(15):
        diag = [(i, s - i) for i in range(s + 1) if i < 8 and s - i < 8]
        if s % 2 == 0:
            diag.reverse()
        out.extend(diag)
    return out


#: scan index k → natural (row-major) index row*8+col
ZIGZAG_NAT = [r * 8 + c for r, c in _zigzag_pairs()]
#: natural index → scan index (the inverse permutation)
_NAT_ZIGZAG = np.argsort(ZIGZAG_NAT)

#: AC synthesis: fixed zigzag positions chosen to exercise every
#: run-length shape — k=1 (run 0), k=5 (run 3), k=23 (run 17 → ZRL +
#: run 1), k=63 (run 39 → ZRL + ZRL + run 7, and the block then ends
#: at k=64 WITHOUT an EOB, the implicit-end path)
AC_POSITIONS = (1, 5, 23, 63)
AC_MULT, AC_MOD, AC_SHIFT = 29, 41, 20  # value formula constants
QUANT_AC = 16  #: q[k] for k>0 — dequantized AC = 16 × decoded value


def block_ac(asset_id: int, bx: int, by: int, p: int) -> int:
    """Quantized-domain AC coefficient planted at zigzag position p
    of block (bx, by): nonzero by construction (the %-range [-20, 20]
    maps 0..20 up by one → [-20, -1] ∪ [1, 21]), spanning Huffman
    size categories 1–5. Mirrored in the DuckDB oracle."""
    v0 = (asset_id + 7 * bx + 11 * by + 53 * p) * AC_MULT % AC_MOD - AC_SHIFT
    return v0 + 1 if v0 >= 0 else v0


def _encode_scan(blocks: list[list[int]]) -> bytes:
    """Entropy-encode quantized coefficient blocks (zigzag order,
    64 each): DC difference coding + AC run/size coding with ZRL for
    runs ≥ 16, EOB only when trailing zeros remain (a coefficient at
    k=63 ends the block implicitly). For all-zero AC this emits
    exactly the DC-only stream the hand-pinned tests expect."""
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    w = _BitWriter()
    pred = 0
    for coefs in blocks:
        diff = coefs[0] - pred
        pred = coefs[0]
        cat = _category(diff)
        code, length = dc_codes[cat]
        w.put(code, length)
        if cat:
            w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        k = 1
        while k < 64:
            j = k
            while j < 64 and coefs[j] == 0:
                j += 1
            if j == 64:
                eob, eob_len = ac_codes[0x00]
                w.put(eob, eob_len)
                break
            run = j - k
            while run >= 16:
                zrl, zrl_len = ac_codes[0xF0]
                w.put(zrl, zrl_len)
                run -= 16
            size = _category(coefs[j])
            code, length = ac_codes[(run << 4) | size]
            w.put(code, length)
            v = coefs[j]
            w.put(v if v >= 0 else v + (1 << size) - 1, size)
            k = j + 1
    return w.flush()


def _container(bw: int, bh: int, scan: bytes) -> bytes:
    """Wrap an entropy scan in the fixed grayscale baseline JFIF
    envelope (Annex K tables, q[0]=QUANT_DC, q[k>0]=QUANT_AC)."""
    quant = bytes([QUANT_DC] + [QUANT_AC] * 63)
    return (
        b"\xff\xd8"  # SOI
        + _seg(0xDB, b"\x00" + quant)  # DQT id 0, 8-bit
        + _seg(0xC0, struct.pack(">BHHB", 8, bh * 8, bw * 8, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"  # EOI
    )


def _formula_blocks(asset_id: int, with_ac: bool) -> tuple[int, int, list[list[int]]]:
    bw, bh = jpeg_params(asset_id)
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            coefs = [0] * 64
            coefs[0] = block_dc(asset_id, bx, by)
            if with_ac:
                for p in AC_POSITIONS:
                    coefs[p] = block_ac(asset_id, bx, by, p)
            blocks.append(coefs)
    return bw, bh, blocks


def make_jpeg_dc(asset_id: int) -> bytes:
    """Spec-valid grayscale baseline JFIF whose scan encodes DC-only
    8×8 blocks of the formula image (Annex K tables, q[0]=QUANT_DC,
    byte-stuffed entropy stream)."""
    bw, bh, blocks = _formula_blocks(asset_id, with_ac=False)
    return _container(bw, bh, _encode_scan(blocks))


#: the shared-tables blob for ABBREVIATED streams (r9 — TIFF
#: JPEGTables tag 347, TIFF TechNote 2): a JPEG stream holding only
#: the table segments between SOI and EOI
def jpeg_tables_blob() -> bytes:
    quant = bytes([QUANT_DC] + [QUANT_AC] * 63)
    return (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + quant)
        + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        + b"\xff\xd9"
    )


def merge_jpeg_tables(tables: bytes, stream: bytes) -> bytes | None:
    """Compose an ABBREVIATED JPEG stream with its shared-tables blob
    (TIFF TechNote 2): the blob's segments (between its SOI and EOI)
    are inserted right after the stream's SOI, yielding a complete
    interchange stream for the ordinary decoders. Malformed blob or
    stream → None."""
    if (
        len(tables) < 4
        or tables[:2] != b"\xff\xd8"
        or tables[-2:] != b"\xff\xd9"
        or stream[:2] != b"\xff\xd8"
    ):
        return None
    return stream[:2] + tables[2:-2] + stream[2:]


def make_jpeg_gray_dc_grid(
    w: int, h: int, dcs: list[list[int]], abbreviated: bool = False
) -> bytes:
    """Grayscale DC-only baseline JFIF with EXPLICIT dims (SOF states
    w × h; decoders trim the block padding) and an explicit per-block
    DC grid — the JPEG-in-TIFF strip/tile encoder (r9). With
    ``abbreviated`` the stream omits DQT/DHT (the tables ship in the
    TIFF JPEGTables tag instead)."""
    bw, bh = -(-w // 8), -(-h // 8)
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            coefs = [0] * 64
            coefs[0] = dcs[by][bx]
            blocks.append(coefs)
    scan = _encode_scan(blocks)
    quant = bytes([QUANT_DC] + [QUANT_AC] * 63)
    tables = (
        b""
        if abbreviated
        else (
            _seg(0xDB, b"\x00" + quant)
            + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
            + _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        )
    )
    return (
        b"\xff\xd8"
        + tables
        + _seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )


#: chroma Huffman tables for the 3-component profile (r5): Annex K
#: chroma DC; the AC table is a deliberately MINIMAL valid canonical
#: table (two length-2 codes: EOB and run0/size1) — the decoder reads
#: whatever the DHT declares, so a tiny non-Annex-K table is itself a
#: test that nothing is baked in
_DC2_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC2_VALS = list(range(12))
_AC2_BITS = [0, 2] + [0] * 14
_AC2_VALS = [0x00, 0x01]

#: component multiplier in the 3-component DC formula
YCC_C_MULT = 47
#: chroma quant table body differs from luma in the AC entries only
#: (q[0] stays QUANT_DC so chroma pixels stay integer-exact)
QUANT_AC_CHROMA = 17


def block_dc3(asset_id: int, c: int, bx: int, by: int) -> int:
    """DC of component c (0=Y, 1=Cb, 2=Cr) of block (bx, by); every
    pixel of that component's block decodes to block_dc3 + 128."""
    return (
        asset_id + 13 * bx + 31 * by + YCC_C_MULT * c
    ) * DC_MULT % DC_MOD + DC_OFF


def make_jpeg_ycc(asset_id: int) -> bytes:
    """Spec-valid 3-component (YCbCr 4:4:4) baseline JFIF, DC-only
    scan (r5): interleaved MCUs of one block per component with
    SEPARATE DC predictors, luma on table pair 0 (Annex K), chroma
    on table pair 1 (Annex K chroma DC + the minimal AC table), and
    both quant tables shipped in ONE DQT segment / all four Huffman
    tables in ONE DHT segment — exercising the multi-table-per-
    segment parsing real encoders emit."""
    bw, bh = jpeg_params(asset_id)
    return build_jpeg_ycc_dc(
        bw, bh, lambda c, bx, by: block_dc3(asset_id, c, bx, by)
    )


def build_jpeg_ycc_dc(bw: int, bh: int, dcfn) -> bytes:
    """The parameterized 4:4:4 DC-only builder behind make_jpeg_ycc
    (r8: also serves the phash color leg, which plants its own DC
    formulas on a dHash-aligned 9×8 grid): dcfn(c, bx, by) → DC of
    component c at block (bx, by)."""
    dc_codes = [
        _canonical_codes(_DC_BITS, _DC_VALS),
        _canonical_codes(_DC2_BITS, _DC2_VALS),
        _canonical_codes(_DC2_BITS, _DC2_VALS),
    ]
    ac_codes = [
        _canonical_codes(_AC_BITS, _AC_VALS),
        _canonical_codes(_AC2_BITS, _AC2_VALS),
        _canonical_codes(_AC2_BITS, _AC2_VALS),
    ]
    w = _BitWriter()
    preds = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            for c in range(3):
                dc = dcfn(c, bx, by)
                diff = dc - preds[c]
                preds[c] = dc
                cat = _category(diff)
                code, length = dc_codes[c][cat]
                w.put(code, length)
                if cat:
                    w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
                eob, eob_len = ac_codes[c][0x00]
                w.put(eob, eob_len)
    scan = w.flush()
    quant_l = bytes([QUANT_DC] + [QUANT_AC] * 63)
    quant_c = bytes([QUANT_DC] + [QUANT_AC_CHROMA] * 63)
    dqt = b"\x00" + quant_l + b"\x01" + quant_c
    sof = struct.pack(">BHHB", 8, bh * 8, bw * 8, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
        + b"\x01" + bytes(_DC2_BITS) + bytes(_DC2_VALS)
        + b"\x11" + bytes(_AC2_BITS) + bytes(_AC2_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _seg(0xDB, dqt)
        + _seg(0xC0, sof)
        + _seg(0xC4, dht)
        + _seg(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


def jpeg420_ri(asset_id: int) -> int:
    """Restart interval (in MCUs) for the DRI leg: 1..3, so short
    corpora still exercise multi-restart scans and RSTn wraparound."""
    return 1 + asset_id % 3


def make_jpeg_420(asset_id: int, dri: bool) -> bytes:
    """Spec-valid 3-component YCbCr 4:2:0 baseline JFIF, DC-only scan
    (r6): Y samples 2×2, chroma 1×1, so each MCU interleaves FOUR Y
    blocks (raster order within the MCU) + one Cb + one Cr with
    separate predictors — the dominant real-world baseline profile.
    Dimensions are 16·mw × 16·mh pixels (mw, mh = jpeg_params), so
    the luma grid is 2mw×2mh blocks and each chroma plane exactly
    mw×mh — no padding blocks, which keeps the formula oracle pure
    arithmetic (the DECODER handles padding generally; a hand case
    pins it in pytest). With ``dri`` a DRI segment declares
    jpeg420_ri MCUs per restart interval and the scan carries real
    byte-aligned RST0..RST7 markers with predictor resets. Block DC
    formula block_dc3(asset_id, c, bx, by) in each component's OWN
    block grid."""
    return _make_jpeg_sub(asset_id, 2, 2, dri)


def make_jpeg_420_ac(asset_id: int, dri: bool) -> bytes:
    """Baseline SEQUENTIAL YCbCr 4:2:0 WITH luma AC (r7) — the most
    common JPEG on the web, at last in its full shape: interleaved
    six-block MCUs where every luma block carries the shared block_ac
    spectra (run/size + ZRL traffic INSIDE the MCU stream, restart
    markers optionally slicing mid-AC), chroma DC-only. Carries the
    SAME per-component formulas as :func:`make_jpeg_prog_420`, so the
    sequential and progressive decoders must produce bit-identical
    coefficients and pixels for the same asset — pinned in pytest."""
    return _make_jpeg_sub(asset_id, 2, 2, dri, luma_ac=True)


def make_jpeg_411(asset_id: int, dri: bool) -> bytes:
    """YCbCr 4:1:1 twin of :func:`make_jpeg_420` (r6): Y samples 4×1
    (the DV/camcorder chroma layout), so each MCU covers 32×8 pixels
    and interleaves FOUR horizontally-adjacent Y blocks + one Cb +
    one Cr — exercising sampling factor 4, which the {1,2} gate of
    the first r6 cut refused. Dimensions 32·mw × 8·mh; luma grid
    4mw×mh blocks, chroma mw×mh."""
    return _make_jpeg_sub(asset_id, 4, 1, dri)


def make_jpeg_422(asset_id: int, dri: bool) -> bytes:
    """YCbCr 4:2:2 twin of :func:`make_jpeg_420` (r9): Y samples 2×1
    (the broadcast/interchange chroma layout — the last common
    sampling the mixed corpus lacked), so each MCU covers 16×8 pixels
    and interleaves TWO horizontally-adjacent Y blocks + one Cb + one
    Cr. Dimensions 16·mw × 8·mh; luma grid 2mw×mh blocks, chroma
    mw×mh."""
    return _make_jpeg_sub(asset_id, 2, 1, dri)


def _make_jpeg_sub(
    asset_id: int, hy: int, vy: int, dri: bool, luma_ac: bool = False
) -> bytes:
    """Shared 3-component subsampled synthesizer: luma samples hy×vy,
    chroma 1×1; MCU = hy·vy Y blocks (raster order) + Cb + Cr.
    ``luma_ac=True`` (r7) plants the block_ac formula on every luma
    block — the dominant real-world shape (baseline interleaved
    subsampled scan WITH AC energy); chroma stays DC-only (its
    minimal AC table has only EOB + one symbol by design)."""
    mw, mh = jpeg_params(asset_id)
    ri = jpeg420_ri(asset_id) if dri else 0
    dc_codes = [
        _canonical_codes(_DC_BITS, _DC_VALS),
        _canonical_codes(_DC2_BITS, _DC2_VALS),
        _canonical_codes(_DC2_BITS, _DC2_VALS),
    ]
    ac_codes = [
        _canonical_codes(_AC_BITS, _AC_VALS),
        _canonical_codes(_AC2_BITS, _AC2_VALS),
        _canonical_codes(_AC2_BITS, _AC2_VALS),
    ]
    w = _BitWriter()
    preds = [0, 0, 0]
    rst = 0
    for mcu in range(mw * mh):
        if ri and mcu and mcu % ri == 0:
            w.align()
            w.marker(0xD0 + rst)
            rst = (rst + 1) % 8
            preds = [0, 0, 0]
        my, mx = divmod(mcu, mw)
        # (component, block coords in the component's own grid)
        units = [
            (0, hy * mx + dx, vy * my + dy)
            for dy in range(vy)
            for dx in range(hy)
        ]
        units += [(1, mx, my), (2, mx, my)]
        for c, bx, by in units:
            dc = block_dc3(asset_id, c, bx, by)
            diff = dc - preds[c]
            preds[c] = dc
            cat = _category(diff)
            code, length = dc_codes[c][cat]
            w.put(code, length)
            if cat:
                w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            if luma_ac and c == 0:
                coefs = [0] * 64
                for p in AC_POSITIONS:
                    coefs[p] = block_ac(asset_id, bx, by, p)
                k = 1
                while k < 64:  # the _encode_scan AC walk, per block
                    j = k
                    while j < 64 and coefs[j] == 0:
                        j += 1
                    if j == 64:
                        eob, eob_len = ac_codes[0][0x00]
                        w.put(eob, eob_len)
                        break
                    run = j - k
                    while run >= 16:
                        zrl, zrl_len = ac_codes[0][0xF0]
                        w.put(zrl, zrl_len)
                        run -= 16
                    size = _category(coefs[j])
                    code, length = ac_codes[0][(run << 4) | size]
                    w.put(code, length)
                    v = coefs[j]
                    w.put(v if v >= 0 else v + (1 << size) - 1, size)
                    k = j + 1
            else:
                eob, eob_len = ac_codes[c][0x00]
                w.put(eob, eob_len)
    scan = w.flush()
    quant_l = bytes([QUANT_DC] + [QUANT_AC] * 63)
    quant_c = bytes([QUANT_DC] + [QUANT_AC_CHROMA] * 63)
    dqt = b"\x00" + quant_l + b"\x01" + quant_c
    sof = struct.pack(">BHHB", 8, mh * vy * 8, mw * hy * 8, 3) + bytes(
        [1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
        + b"\x01" + bytes(_DC2_BITS) + bytes(_DC2_VALS)
        + b"\x11" + bytes(_AC2_BITS) + bytes(_AC2_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out = b"\xff\xd8" + _seg(0xDB, dqt) + _seg(0xC0, sof) + _seg(0xC4, dht)
    if dri:
        out += _seg(0xDD, struct.pack(">H", ri))
    return out + _seg(0xDA, sos) + scan + b"\xff\xd9"


def make_jpeg_ac(asset_id: int) -> bytes:
    """AC-bearing variant: every block additionally carries four
    formula AC coefficients at AC_POSITIONS, so the scan contains
    real run/size codes, double-ZRL runs, and implicit block ends —
    the general baseline entropy surface (r5 extension)."""
    bw, bh, blocks = _formula_blocks(asset_id, with_ac=True)
    return _container(bw, bh, _encode_scan(blocks))


QUANT_AC16 = 300  #: q[k>0] of the 16-bit-DQT leg — does not fit a byte


def make_jpeg_ac16(asset_id: int) -> bytes:
    """Same formula blocks as :func:`make_jpeg_ac`, but the quant
    table ships as a 16-BIT DQT (Pq=1, big-endian entries — r6):
    q[k>0] = QUANT_AC16 = 300 cannot be expressed in an 8-bit table,
    so a decoder that ignores the precision nibble cannot even walk
    the segment, let alone dequantize correctly. High-quality real
    encoders emit Pq=1 whenever any quantizer exceeds 255."""
    bw, bh, blocks = _formula_blocks(asset_id, with_ac=True)
    quant = struct.pack(">64H", *([QUANT_DC] + [QUANT_AC16] * 63))
    return (
        b"\xff\xd8"
        + _seg(0xDB, b"\x10" + quant)
        + _seg(0xC0, struct.pack(">BHHB", 8, bh * 8, bw * 8, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + _encode_scan(blocks)
        + b"\xff\xd9"
    )


class _BitReader:
    """Bit cursor over the UNSTUFFED entropy stream. Exposes the same
    bit()/pos contract as the original per-bit divmod reader, backed
    by a precomputed 24-bit-window array so bit() is one array index
    and the Huffman decoder can peek 16 bits at once (the per-bit
    walk was ~70% of decode CPU at sf0.1)."""

    __slots__ = ("data", "pos", "nbits", "_w")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position over the UNSTUFFED stream
        self.nbits = 8 * len(data)
        # _w[i] = bytes i..i+2 big-endian: bits 8*i .. 8*i+23, read as
        # the top of a big-endian 32-bit word at every byte offset (a
        # 1-byte-stride view), stored as a plain list — list indexing
        # is ~50 ns where a numpy scalar index costs ~4 µs per call.
        words = np.ndarray(
            (len(data),), dtype=">u4", buffer=data + b"\x00\x00\x00", strides=(1,)
        )
        self._w = (words >> 8).tolist()

    def bit(self) -> int | None:
        p = self.pos
        if p >= self.nbits:
            return None
        self.pos = p + 1
        return (self._w[p >> 3] >> (23 - (p & 7))) & 1

    def peek16(self) -> int:
        """Next 16 bits MSB-first, zero-padded past the end (callers
        bound consumption by nbits - pos)."""
        p = self.pos
        return (self._w[p >> 3] >> (8 - (p & 7))) & 0xFFFF

    def take(self, n: int) -> int | None:
        """Read n (0..16) bits MSB-first. Same contract as n bit()
        calls: on truncation, consumes the remaining bits and returns
        None."""
        if n == 0:
            return 0
        p = self.pos
        if p + n > self.nbits:
            self.pos = self.nbits
            return None
        self.pos = p + n
        return ((self._w[p >> 3] >> (8 - (p & 7))) & 0xFFFF) >> (16 - n)


class _HuffTable:
    """Decode table with a 16-bit-prefix LUT: lut[peek16] = (length,
    value) of the unique code that prefixes those bits (None where no
    code matches — incomplete trees). Built once per distinct table
    content (memoized), replacing the per-bit canonical walk. Codes
    past the 16-bit space (an over-subscribed DHT) can never match
    and are skipped, so the LUT stays at 65,536 entries."""

    __slots__ = ("lut",)

    def __init__(self, codes: dict[int, tuple[int, int]]) -> None:
        lut: list[tuple[int, int] | None] = [None] * 65536
        for v, (code, length) in codes.items():
            span = 1 << (16 - length)
            start = code << (16 - length)
            if start + span > 65536:
                continue
            lut[start : start + span] = [(length, v)] * span
        self.lut = lut


_DECODE_TABLE_MEMO: dict[tuple[bytes, bytes], _HuffTable] = {}


def _build_decode_table(bits: bytes | list[int], vals: bytes | list[int]) -> _HuffTable:
    """Huffman decode table from the DHT payload (memoized on table
    content — tables repeat across images)."""
    key = (bytes(bits), bytes(vals))
    hit = _DECODE_TABLE_MEMO.get(key)
    if hit is None:
        hit = _memoize(_DECODE_TABLE_MEMO, key, _HuffTable(_canonical_codes(bits, vals)))
    return hit


def _read_huff(r: _BitReader, table: _HuffTable) -> int | None:
    """One-lookup canonical Huffman decode. Failure semantics match
    the former per-bit walk exactly: on no-match or truncation the
    cursor advances min(16, remaining) bits and None is returned."""
    remaining = r.nbits - r.pos
    if remaining <= 0:
        return None
    ent = table.lut[r.peek16()]
    if ent is not None and ent[0] <= remaining:
        r.pos += ent[0]
        return ent[1]
    r.pos += remaining if remaining < 16 else 16
    return None


# ---------------------------------------------------------------------------
# Step 1: the marker walk
# ---------------------------------------------------------------------------

#: the frame kinds the walk accepts (T.81 B.1.1.3): baseline
#: sequential, progressive and lossless, all Huffman-coded
_SOF0, _SOF2, _SOF3 = 0xC0, 0xC2, 0xC3


class _Frame(NamedTuple):
    """A walked stream. ``comps`` lists (quant table or None, h_c,
    v_c) in frame order, quant tables (64 int64, zigzag order) as
    defined at EOI; ``scans``
    lists (comp_tabs, ss, se, ah, al, segments, restart_interval) in
    stream order, with comp_tabs = [(component index, DC table or
    None, AC table or None), ...] in scan order and the Huffman tables
    and restart interval those in force at that scan."""

    kind: int
    prec: int
    w: int
    h: int
    comps: list
    scans: list


def _split_entropy(b: bytes, pos: int):
    """One scan's entropy region from ``pos`` → (segments, marker_pos):
    0xFF00 unstuffs to a data 0xFF, RST0..RST7 split the stream into
    byte-aligned segments (their numbers must cycle 0, 1, ... mod 8 —
    an out-of-order RSTn is corruption, not data), and the first other
    marker ends the scan. None when the bytes run out first."""
    segs: list[bytes] = []
    cur = bytearray()
    expect_rst = 0
    while True:
        i = b.find(b"\xff", pos)
        if i < 0 or i + 1 >= len(b):
            return None
        cur += b[pos:i]
        m = b[i + 1]
        pos = i + 2
        if m == 0x00:  # stuffed data byte
            cur.append(0xFF)
        elif 0xD0 <= m <= 0xD7:  # RSTn
            if m - 0xD0 != expect_rst:
                return None
            expect_rst = (expect_rst + 1) % 8
            segs.append(bytes(cur))
            cur = bytearray()
        else:
            segs.append(bytes(cur))
            return segs, i


def _walk(b: bytes) -> _Frame | None:
    """The one marker walk: SOI, then DQT, DHT, DRI, one SOF0/SOF2/SOF3
    frame header and every SOS with its entropy segments, up to EOI.
    Other marker segments are skipped by their length. Tables and the
    restart interval may be (re)defined between scans. The structural
    refusals live here; each decoder checks what its own process needs
    (which tables a scan reads, the scan script)."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    quants: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    kind = None
    frame: tuple = ()  # (prec, w, h, [(cid, tq, h_c, v_c), ...])
    ri = 0
    scans: list = []
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            return None
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker (DNG-embedded SOF3 and some hardware encoders pad)
        while pos + 2 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            if kind is None or not scans:
                return None
            prec, w, h, fcomps = frame
            comps = [(quants.get(tq), hc, vc) for _, tq, hc, vc in fcomps]
            return _Frame(kind, prec, w, h, comps, scans)
        if pos + 4 > len(b):
            return None  # fill bytes ran into EOF: no room for a length
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        body = b[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            return None
        pos += 2 + seglen
        if marker == 0xDB:
            # one or more tables: Pq=0 → 64 bytes, Pq=1 → 64 big-endian
            # 16-bit entries (high-quality encoders emit these)
            p = 0
            while p < len(body):
                pq = body[p] >> 4
                size = 128 if pq else 64
                if pq > 1 or p + 1 + size > len(body):
                    return None  # Pq 2..15 undefined, or a short table
                raw = body[p + 1 : p + 1 + size]
                quants[body[p] & 0x0F] = np.frombuffer(raw, ">u2" if pq else np.uint8).astype(np.int64)
                p += 1 + size
        elif marker == 0xC4:
            # one or more tables, keyed (class, id)
            p = 0
            while p < len(body):
                bits = body[p + 1 : p + 17]
                nv = sum(bits)
                if len(bits) != 16 or p + 17 + nv > len(body):
                    return None
                huff[(body[p] >> 4, body[p] & 0x0F)] = _build_decode_table(
                    bits, body[p + 17 : p + 17 + nv]
                )
                p += 17 + nv
        elif marker == 0xDD:
            if len(body) != 2:
                return None
            (ri,) = struct.unpack(">H", body)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            # SOF1 and SOF5..7 are refused, and so is a second frame kind
            if marker not in (_SOF0, _SOF2, _SOF3) or kind not in (None, marker):
                return None
            if len(body) < 6:
                return None
            prec, h, w, nf = struct.unpack(">BHHB", body[:6])
            if marker == _SOF3:
                ok = 2 <= prec <= 16 and nf == 1
            else:
                ok = prec == 8 and nf in (1, 3)
            # zero width is illegal and zero height needs DNL (unsupported)
            if not ok or not w or not h or len(body) < 6 + 3 * nf:
                return None
            fcomps = []
            for i in range(nf):
                cid, samp, tq = body[6 + 3 * i : 9 + 3 * i]
                # a single component is non-interleaved: one block per
                # MCU regardless of its declared factors
                hc, vc = (samp >> 4, samp & 0x0F) if nf > 1 else (1, 1)
                if not (1 <= hc <= 4 and 1 <= vc <= 4):
                    return None  # factors 0 and 5..15 are illegal (B.2.2)
                fcomps.append((cid, tq, hc, vc))
            kind, frame = marker, (prec, w, h, fcomps)
        elif marker == 0xDA:
            ns = body[0] if body else 0
            if kind is None or len(body) != 4 + 2 * ns or not 1 <= ns <= len(frame[3]):
                return None
            index = {cid: i for i, (cid, _, _, _) in enumerate(frame[3])}
            comp_tabs = []
            for k in range(ns):
                ci = index.get(body[1 + 2 * k])
                tt = body[2 + 2 * k]
                if ci is None or any(ci == c for c, _, _ in comp_tabs):
                    return None  # each scan component is a distinct frame one
                comp_tabs.append((ci, huff.get((0, tt >> 4)), huff.get((1, tt & 0x0F))))
            blocks = sum(frame[3][ci][2] * frame[3][ci][3] for ci, _, _ in comp_tabs)
            if ns > 1 and blocks > 10:
                return None  # an interleaved MCU holds at most 10 blocks (B.2.3)
            split = _split_entropy(b, pos)
            if split is None:
                return None
            segments, pos = split
            ss, se, ahal = body[-3], body[-2], body[-1]
            scans.append((comp_tabs, ss, se, ahal >> 4, ahal & 0x0F, segments, ri))
    return None  # ran off the end without EOI


# ---------------------------------------------------------------------------
# Step 2: the Huffman-DCT decode
# ---------------------------------------------------------------------------
#
# One replay loop serves both DCT processes. A sequential (SOF0) block
# is a DC-first decode at Al = 0 followed by a full-band (1..63)
# AC-first decode that may not open an EOB run. Progressive (SOF2)
# scans follow ITU T.81 Annex G: spectral selection + successive
# approximation, with point transforms that differ by coefficient
# kind — DC uses an ARITHMETIC shift of the signed value (G.1.2.1, so
# refinement bits OR into the two's-complement representation), AC
# shifts the MAGNITUDE and reapplies the sign (G.1.2.2, so a
# refinement correction bit moves the value AWAY from zero). AC first
# scans code end-of-band runs (EOBn: size 0, run < 15, run extension
# bits, up to 2^14 blocks); AC refinement scans interleave one
# correction bit for every already-nonzero coefficient passed while
# positioning newly-nonzero ±1·2^Al coefficients, and defer the
# correction bits of EOB-run blocks until the next EOBn. Every path
# lands in the same exact integer coefficient domain.


def _read_dc_diff(r: _BitReader, dc_tab: _HuffTable) -> int | None:
    cat = _read_huff(r, dc_tab)
    if cat is None or cat > 11:
        return None
    if not cat:
        return 0
    bits_v = r.take(cat)
    if bits_v is None:
        return None
    return bits_v if bits_v >= (1 << (cat - 1)) else bits_v - (1 << cat) + 1


def _dec_ac_first(r, row, ac_tab, ss, se, al, eobrun):
    """One block of an AC first scan; returns the updated EOB run or
    None on corruption."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_huff(r, ac_tab)
        if rs is None:
            return None
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:
                k += 16
                continue
            bits_v = r.take(run)  # extension bits, MSB first
            if bits_v is None:
                return None
            # the run includes the current block
            return (1 << run) + bits_v - 1
        k += run
        if k > se:
            return None
        bits_v = r.take(size)
        if bits_v is None:
            return None
        val = bits_v if bits_v >= (1 << (size - 1)) else bits_v - (1 << size) + 1
        row[k] = val << al
        k += 1
    return 0


def _dec_ac_refine(r, row, ac_tab, ss, se, al, eobrun):
    """One block of an AC refinement scan; returns the updated EOB
    run or None on corruption."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_huff(r, ac_tab)
            if rs is None:
                return None
            run, size = rs >> 4, rs & 0x0F
            newval = 0
            if size == 0:
                if run < 15:
                    bits_v = 0
                    for _ in range(run):
                        bit = r.bit()
                        if bit is None:
                            return None
                        bits_v = (bits_v << 1) | bit
                    eobrun = (1 << run) + bits_v
                    break  # → correction sweep below
                # run == 15: ZRL — skip 16 zero-history coeffs
            elif size == 1:
                bit = r.bit()
                if bit is None:
                    return None
                newval = p1 if bit else m1
            else:
                return None  # refinement sizes are 0 or 1 only
            while k <= se:
                if row[k] != 0:
                    bit = r.bit()
                    if bit is None:
                        return None
                    if bit and not (row[k] & p1):
                        row[k] += p1 if row[k] >= 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval:
                if k > se:
                    return None
                row[k] = newval
            # past the placed coefficient (or the 16th zero of a ZRL,
            # where the advance loop stopped ON it)
            k += 1
    if eobrun > 0:
        while k <= se:
            if row[k] != 0:
                bit = r.bit()
                if bit is None:
                    return None
                if bit and not (row[k] & p1):
                    row[k] += p1 if row[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _native_sizes(w: int, h: int, hv: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Per-component sampled size (A.1.1): ceil(w·h_c/h_max) ×
    ceil(h·v_c/v_max), as (width, height)."""
    hmax = max(hc for hc, _ in hv)
    vmax = max(vc for _, vc in hv)
    return [(-(-(w * hc) // hmax), -(-(h * vc) // vmax)) for hc, vc in hv]


def _real_blocks(grid: np.ndarray, quant: np.ndarray, pw: int, wb: int, hb: int) -> np.ndarray:
    """Padded (n, 64) zigzag grid, pw blocks wide → (wb·hb, 64) int64
    array of DEQUANTIZED natural-order coefficients over the real
    blocks, raster order. DQT stores zigzag order, so coefficient k
    dequantizes with quant[k] and lands at natural index
    ZIGZAG_NAT[k]."""
    z = grid.reshape(-1, pw, 64)[:hb, :wb].reshape(-1, 64)
    return (z * quant).take(_NAT_ZIGZAG, axis=1)


def _decode_dct(f: _Frame | None):
    """The one Huffman-DCT decode of a walked SOF0 or SOF2 frame →
    (w, h, [per-component (n_real_blocks, 64) dequantized natural-order
    coefficients], [(h_c, v_c), ...]) or None.

    Geometry per A.2.3: an MCU covers 8·h_max × 8·v_max pixels; an
    interleaved scan walks MCUs of h_c×v_c blocks per component (raster
    order) into each component's PADDED grid, mcux·h_c blocks wide; a
    non-interleaved scan walks its component's real block raster,
    ceil(ceil(dim·factor / max factor) / 8) blocks per axis (A.1.1).
    A sequential frame is exactly one scan of every component (its Ss,
    Se, Ah and Al bytes are not read). A progressive scan must keep the
    script rules: band bounds, Ah = Al + 1 on refinement, DC and AC
    never in one scan, DC before AC per component, interleaved scans
    DC-only. At each restart marker the DC predictors reset, and an EOB
    run may not cross it; the segment count must match the interval.
    A frame with more blocks than its entropy data has bits is refused
    before any grid is built."""
    if f is None or f.kind == _SOF3 or any(q is None for q, _, _ in f.comps):
        return None
    seq = f.kind == _SOF0
    if seq and (len(f.scans) != 1 or len(f.scans[0][0]) != len(f.comps)):
        return None
    n = len(f.comps)
    hv = [(hc, vc) for _, hc, vc in f.comps]
    hmax = max(hc for hc, _ in hv)
    vmax = max(vc for _, vc in hv)
    mcux = -(-f.w // (8 * hmax))
    mcuy = -(-f.h // (8 * vmax))
    pw = [mcux * hc for hc, _ in hv]
    sizes = _native_sizes(f.w, f.h, hv)
    wb = [-(-cw // 8) for cw, _ in sizes]
    hb = [-(-ch // 8) for _, ch in sizes]
    nbits = 8 * sum(len(s) for scan in f.scans for s in scan[5])
    if mcux * mcuy * sum(hc * vc for hc, vc in hv) > nbits:
        return None  # every block costs at least one bit
    grids = [np.zeros((mcuy * vc * pw[c], 64), np.int64) for c, (_, vc) in enumerate(hv)]
    # flat views the block decoders index like lists, with Python ints
    flat = [memoryview(g.reshape(-1)) for g in grids]
    dc_done = [False] * n
    for comp_tabs, ss, se, ah, al, segments, ri in f.scans:
        if seq:
            ss, se, ah, al = 0, 63, 0, 0
        elif (
            not (0 <= ss <= se <= 63)
            or al > 13
            or (ah and ah != al + 1)
            or (ss == 0 and se)  # DC and AC never share a progressive scan
            # G.1.1.1.1: an AC scan has one component, after its DC scan
            or (ss and (len(comp_tabs) > 1 or not dc_done[comp_tabs[0][0]]))
        ):
            return None
        for _, dc_tab, ac_tab in comp_tabs:
            if (dc_tab is None and ss == 0 and ah == 0) or (
                ac_tab is None and (seq or ss)
            ):
                return None  # a table the scan reads is undefined
        # units of one MCU: (component, tables, grid rows per MCU row,
        # grid columns per MCU column, block offset inside the MCU)
        if len(comp_tabs) > 1:
            across, down = mcux, mcuy
            units = [
                (c, dc_tab, ac_tab, vc * pw[c], hc, dy * pw[c] + dx)
                for c, dc_tab, ac_tab in comp_tabs
                for hc, vc in (hv[c],)
                for dy in range(vc)
                for dx in range(hc)
            ]
        else:
            c, dc_tab, ac_tab = comp_tabs[0]
            across, down = wb[c], hb[c]
            units = [(c, dc_tab, ac_tab, pw[c], 1, 0)]
        total = across * down
        if len(segments) != (1 if ri == 0 else -(-total // ri)):
            return None
        preds = [0] * n
        eobrun = 0
        r = _BitReader(segments[0])
        seg = 0
        for m in range(total):
            if ri and m and m % ri == 0:
                if eobrun:
                    return None  # EOB runs must not cross restarts
                seg += 1
                r = _BitReader(segments[seg])
                preds = [0] * n
            my, mx = divmod(m, across)
            for c, dc_tab, ac_tab, ystep, xstep, off in units:
                bi = 64 * (my * ystep + mx * xstep + off)
                row = flat[c][bi : bi + 64]
                if ss == 0 and ah == 0:  # DC first
                    diff = _read_dc_diff(r, dc_tab)
                    if diff is None:
                        return None
                    preds[c] += diff
                    row[0] = preds[c] << al
                    if seq and _dec_ac_first(r, row, ac_tab, 1, 63, 0, 0) != 0:
                        return None  # corrupt, or an EOB run in a sequential scan
                elif ss == 0:  # DC refine: raw bit ORed at two's complement
                    bit = r.bit()
                    if bit is None:
                        return None
                    if bit:
                        row[0] |= 1 << al
                elif ah == 0:
                    eobrun = _dec_ac_first(r, row, ac_tab, ss, se, al, eobrun)
                else:
                    eobrun = _dec_ac_refine(r, row, ac_tab, ss, se, al, eobrun)
                if eobrun is None:
                    return None
        if ss == 0:
            for c, _, _ in comp_tabs:
                dc_done[c] = True
    arrs = [
        _real_blocks(grids[c], quant, pw[c], wb[c], hb[c])
        for c, (quant, _, _) in enumerate(f.comps)
    ]
    return f.w, f.h, arrs, hv


# ---------------------------------------------------------------------------
# Step 3: the views
# ---------------------------------------------------------------------------


def _view(b: bytes, kinds: tuple, ncomp: int):
    """Walk and decode ``b`` once → the :func:`_decode_dct` tuple, or
    None unless the frame is one of ``kinds`` with ``ncomp`` components."""
    f = _walk(b)
    if f is None or f.kind not in kinds or len(f.comps) != ncomp:
        return None
    return _decode_dct(f)


def _planes(
    w: int, h: int, arrs: list[np.ndarray], hv: list[tuple[int, int]]
) -> list[np.ndarray]:
    """The pixel view: every component's real blocks through the pinned
    fixed-point IDCT (one call for all of them), as uint8 planes
    trimmed to their native sampled size (:func:`_native_sizes`); no
    upsampling filter invented."""
    px = idct8_fixed(np.concatenate(arrs))
    planes = []
    for cw, ch in _native_sizes(w, h, hv):
        wb, hb = -(-cw // 8), -(-ch // 8)
        img = px[: wb * hb].reshape(hb, wb, 8, 8).transpose(0, 2, 1, 3)
        planes.append(img.reshape(hb * 8, wb * 8)[:ch, :cw].astype(np.uint8))
        px = px[wb * hb :]
    return planes


def decode_jpeg_coeffs(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """Single-component SEQUENTIAL coefficient view: bytes → (width,
    height, coeffs), coeffs an (n_blocks, 64) int64 array of exact
    DEQUANTIZED pre-IDCT coefficients in natural (row-major) order,
    blocks in raster order. The complete AC grammar (ZRL, EOB, the
    implicit block end after k=63), DRI restarts and 16-bit DQTs are
    honored; there is no DC-only or q0 restriction, because
    dequantization is exact integer multiplication."""
    d = _view(b, (_SOF0,), 1)
    return None if d is None else (d[0], d[1], d[2][0])


def decode_jpeg_coeffs_prog(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """Progressive twin of :func:`decode_jpeg_coeffs` for a
    single-component SOF2 stream."""
    d = _view(b, (_SOF2,), 1)
    return None if d is None else (d[0], d[1], d[2][0])


def decode_jpeg_seq_coeffs_multi(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """3-component SEQUENTIAL coefficient view: (w, h, [per-component
    (n_real_blocks, 64) dequantized coefficient arrays]) over each
    component's real block grid — subsampled chroma keeps its native
    resolution."""
    d = _view(b, (_SOF0,), 3)
    return None if d is None else d[:3]


def decode_jpeg_coeffs_prog3(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """Progressive twin of :func:`decode_jpeg_seq_coeffs_multi`."""
    d = _view(b, (_SOF2,), 3)
    return None if d is None else d[:3]


def decode_jpeg_pixels(b: bytes) -> np.ndarray | None:
    """Single-component PIXEL view, sequential or progressive: the
    coefficients through the fixed-point integer IDCT → (h, w) uint8
    image, or None."""
    d = _view(b, (_SOF0, _SOF2), 1)
    return None if d is None else _planes(*d)[0]


def decode_jpeg_pixels_seq_multi(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """3-component SEQUENTIAL pixel view: (w, h, [per-component uint8
    planes at their native sampled resolution]). Full-resolution RGB
    is :func:`decode_jpeg_rgb`."""
    d = _view(b, (_SOF0,), 3)
    return None if d is None else (d[0], d[1], _planes(*d))


def decode_jpeg_pixels_prog3(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """Progressive twin of :func:`decode_jpeg_pixels_seq_multi`."""
    d = _view(b, (_SOF2,), 3)
    return None if d is None else (d[0], d[1], _planes(*d))


def _dc_planes(b: bytes, ncomp: int | None = None):
    """The DC-only profile of a SEQUENTIAL stream with ``ncomp``
    components (1 or 3 when None): (w, h, planes, hv), planes[c] the
    native-resolution uint8 plane of component c and hv its (h_c, v_c)
    sampling factors, for any legal sampling (4:4:4, 4:2:0, 4:2:2,
    4:4:0, 4:1:1) and DRI. It is the pixel view restricted to streams
    whose blocks are all flat: every q0 ≡ 0 (mod 8), every AC
    coefficient zero and every dc/8 + 128 in 0..255 — exactly what the
    IDCT gives such a block, so the blocks are tiled without it.
    Anything else → None (the full pixel views serve it)."""
    f = _walk(b)
    if (
        f is None
        or f.kind != _SOF0
        or ncomp not in (None, len(f.comps))
        or any(q is None or q[0] % 8 for q, _, _ in f.comps)
    ):
        return None
    d = _decode_dct(f)
    if d is None:
        return None
    w, h, arrs, hv = d
    planes = []
    for a, (cw, ch) in zip(arrs, _native_sizes(w, h, hv)):
        # Python ints: cheaper than numpy ufuncs on the few blocks of a
        # typical frame; dc/8 + 128 in 0..255 ⇔ dc in -1024..1016
        dc = a[:, 0].tolist()
        if np.count_nonzero(a[:, 1:]) or min(dc) < -1024 or max(dc) > 1016:
            return None
        px = np.array([v // 8 + 128 for v in dc], np.uint8)
        px = px.reshape(-(-ch // 8), -(-cw // 8)).repeat(8, 0).repeat(8, 1)
        planes.append(px[:ch, :cw])
    return w, h, planes, hv


def decode_jpeg_dc_planes_hv(
    b: bytes,
) -> tuple[int, int, list[np.ndarray], list[tuple[int, int]]] | None:
    """(w, h, planes, hv) of a 1- or 3-component stream in the DC-only
    profile (see :func:`_dc_planes`), or None."""
    return _dc_planes(b)


def decode_jpeg_dc_planes(b: bytes) -> tuple[int, int, list[np.ndarray]] | None:
    """:func:`decode_jpeg_dc_planes_hv` without the sampling factors."""
    d = _dc_planes(b)
    return None if d is None else d[:3]


def decode_jpeg_dc(b: bytes) -> np.ndarray | None:
    """bytes → (h, w) uint8 grayscale array for a single-component
    baseline stream in the DC-only profile (see :func:`_dc_planes`),
    or None — AC-bearing scans are served by
    :func:`decode_jpeg_pixels`, never approximated here."""
    d = _dc_planes(b, 1)
    return None if d is None else d[2][0]


def decode_jpeg_dc3(b: bytes) -> np.ndarray | None:
    """bytes → (h, w, 3) uint8 YCbCr planes for a 3-component 4:4:4
    stream in the DC-only profile; subsampled streams (planes of
    different shapes) return None here and are served by
    :func:`decode_jpeg_dc_planes`."""
    d = _dc_planes(b, 3)
    if d is None:
        return None
    w, h, planes, _ = d
    if any(p.shape != (h, w) for p in planes):
        return None
    return np.stack(planes, axis=-1)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2) synthesis
# ---------------------------------------------------------------------------
#
# The encoders below emit the four Annex G scan kinds the decoder
# replays (see the Step 2 comment): DC first and refine, AC first
# with EOBn runs, and AC refine with deferred correction bits.

#: canonical Huffman table for the synthesized progressive AC scans:
#: every symbol the encoder can emit — EOBn (r<<4 for r 0..14), ZRL
#: (0xF0), and (r<<4)|s for s 1..6 — as a flat 7-bit canonical table
#: (113 codes < 127, so the all-ones padding pattern is never a valid
#: code). Deliberately NOT Annex K: the decoder reads whatever the
#: DHT declares, and real progressive encoders ship custom tables.
_ACP_VALS = sorted(
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 7)]
)
_ACP_BITS = [0, 0, 0, 0, 0, 0, len(_ACP_VALS), 0, 0, 0, 0, 0, 0, 0, 0, 0]

#: the synthesized scan script: DC first (Al=1), two AC first bands
#: (spectral selection at 1..5 / 6..63, Al=1), then the three
#: refinement scans completing every coefficient to full precision
PROG_SCRIPT = (
    (0, 0, 0, 1),
    (1, 5, 0, 1),
    (6, 63, 0, 1),
    (0, 0, 1, 0),
    (1, 5, 1, 0),
    (6, 63, 1, 0),
)


def _encode_dc_first(w: _BitWriter, blocks: list[list[int]], al: int) -> None:
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    pred = 0
    for coefs in blocks:
        v = coefs[0] >> al  # arithmetic shift of the SIGNED value
        diff = v - pred
        pred = v
        cat = _category(diff)
        code, length = dc_codes[cat]
        w.put(code, length)
        if cat:
            w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)


def _encode_dc_refine(w: _BitWriter, blocks: list[list[int]], al: int) -> None:
    for coefs in blocks:
        w.put((coefs[0] >> al) & 1, 1)


class _EobState:
    """EOB-run accumulator shared by the AC first/refine encoders:
    ``bits`` holds the correction bits of refinement blocks absorbed
    into the pending run, flushed right after the EOBn symbol."""

    def __init__(self, w: _BitWriter, codes: dict) -> None:
        self.w = w
        self.codes = codes
        self.run = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.run:
            nbits = self.run.bit_length() - 1
            code, length = self.codes[nbits << 4]
            self.w.put(code, length)
            if nbits:
                self.w.put(self.run - (1 << nbits), nbits)
            self.run = 0
        for b in self.bits:
            self.w.put(b, 1)
        self.bits = []


def _encode_ac_first(
    w: _BitWriter, blocks: list[list[int]], ss: int, se: int, al: int
) -> None:
    codes = _canonical_codes(_ACP_BITS, _ACP_VALS)
    eob = _EobState(w, codes)
    for coefs in blocks:
        band = []
        for k in range(ss, se + 1):
            v = coefs[k]
            band.append(-((-v) >> al) if v < 0 else v >> al)  # magnitude shift
        if not any(band):
            eob.run += 1
            if eob.run == 0x7FFF:
                eob.flush()
            continue
        eob.flush()
        r = 0
        for v in band:
            if v == 0:
                r += 1
                continue
            while r > 15:
                zrl, zl = codes[0xF0]
                w.put(zrl, zl)
                r -= 16
            s = _category(v)
            code, length = codes[(r << 4) | s]
            w.put(code, length)
            w.put(v if v >= 0 else v + (1 << s) - 1, s)
            r = 0
        if r:
            eob.run += 1
    eob.flush()


def _encode_ac_refine(
    w: _BitWriter, blocks: list[list[int]], ss: int, se: int, al: int
) -> None:
    codes = _canonical_codes(_ACP_BITS, _ACP_VALS)
    eob = _EobState(w, codes)
    for coefs in blocks:
        absvals = [abs(coefs[k]) >> al for k in range(ss, se + 1)]
        last_new = -1  # band index of the last newly-nonzero (mag 1)
        for i, t in enumerate(absvals):
            if t == 1:
                last_new = i
        r = 0
        br: list[int] = []
        for i, t in enumerate(absvals):
            if t == 0:
                r += 1
                continue
            # ZRLs only when another new coefficient follows; trailing
            # zero-runs fold into the EOB run instead
            while r > 15 and i <= last_new:
                eob.flush()
                zrl, zl = codes[0xF0]
                w.put(zrl, zl)
                r -= 16
                for b in br:
                    w.put(b, 1)
                br = []
            if t > 1:  # already nonzero: buffer its correction bit
                br.append(t & 1)
                continue
            eob.flush()
            code, length = codes[(r << 4) | 1]
            w.put(code, length)
            w.put(0 if coefs[ss + i] < 0 else 1, 1)
            for b in br:
                w.put(b, 1)
            br = []
            r = 0
        if r or br:
            eob.run += 1
            eob.bits.extend(br)
            if eob.run == 0x7FFF:
                eob.flush()
    eob.flush()


def _assemble_progressive(
    bw: int,
    bh: int,
    blocks: list[list[int]],
    script: tuple = PROG_SCRIPT,
) -> bytes:
    """Wrap quantized zigzag blocks in a single-component SOF2 JFIF
    delivered over ``script`` scans. The custom AC Huffman table is
    declared MID-STREAM (after the DC scan, before the first AC
    scan) — the between-scan DHT pattern real progressive encoders
    emit."""
    quant = bytes([QUANT_DC] + [QUANT_AC] * 63)
    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xDB, b"\x00" + quant)
    out += _seg(
        0xC2, struct.pack(">BHHB", 8, bh * 8, bw * 8, 1) + bytes([1, 0x11, 0])
    )
    out += _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    ac_declared = False
    for ss, se, ah, al in script:
        if ss and not ac_declared:
            out += _seg(0xC4, b"\x10" + bytes(_ACP_BITS) + bytes(_ACP_VALS))
            ac_declared = True
        w = _BitWriter()
        if ss == 0:
            if ah == 0:
                _encode_dc_first(w, blocks, al)
            else:
                _encode_dc_refine(w, blocks, al)
        elif ah == 0:
            _encode_ac_first(w, blocks, ss, se, al)
        else:
            _encode_ac_refine(w, blocks, ss, se, al)
        out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out += w.flush()
    out += b"\xff\xd9"
    return bytes(out)


def make_jpeg_progressive(asset_id: int) -> bytes:
    """Spec-valid single-component PROGRESSIVE JFIF (SOF2) carrying
    the SAME formula blocks as :func:`make_jpeg_ac`, delivered over
    the six-scan PROG_SCRIPT — DC first at Al=1, two spectrally-
    selected AC first bands at Al=1, then the three refinement scans.
    Decoding a progressive payload must therefore reproduce
    bit-identical coefficient stats to the sequential leg — which is
    exactly what the oracle certifies."""
    bw, bh, blocks = _formula_blocks(asset_id, with_ac=True)
    return _assemble_progressive(bw, bh, blocks)


def make_jpeg_prog_420(asset_id: int) -> bytes:
    """3-component YCbCr 4:2:0 PROGRESSIVE JFIF (r6) — the fully
    general web-JPEG shape: INTERLEAVED DC scans (six-block 4:2:0
    MCUs with per-component predictors, first at Al=1 then the
    refinement bit-plane) followed by per-component NON-interleaved
    AC band scans in each component's own block raster. Luma carries
    the block_ac formula coefficients (run/size + ZRL traffic); the
    chroma AC scans are all-zero, so they compress to pure EOBn
    end-of-band runs spanning the whole component — the longest
    EOB-run shape real encoders emit. Dimensions 16·mw × 16·mh (mw,
    mh = jpeg_params): luma grid 2mw×2mh blocks, chroma mw×mh."""
    mw, mh = jpeg_params(asset_id)
    yw, yh = 2 * mw, 2 * mh
    comp_blocks: list[list[list[int]]] = []
    for c, (cw, ch) in enumerate(((yw, yh), (mw, mh), (mw, mh))):
        blocks = []
        for by in range(ch):
            for bx in range(cw):
                coefs = [0] * 64
                coefs[0] = block_dc3(asset_id, c, bx, by)
                if c == 0:
                    for p in AC_POSITIONS:
                        coefs[p] = block_ac(asset_id, bx, by, p)
                blocks.append(coefs)
        comp_blocks.append(blocks)
    dc_codes = [
        _canonical_codes(_DC_BITS, _DC_VALS),
        _canonical_codes(_DC2_BITS, _DC2_VALS),
        _canonical_codes(_DC2_BITS, _DC2_VALS),
    ]

    def mcu_units():
        for m in range(mw * mh):
            my, mx = divmod(m, mw)
            for dy in (0, 1):
                for dx in (0, 1):
                    yield 0, (2 * my + dy) * yw + (2 * mx + dx)
            yield 1, my * mw + mx
            yield 2, my * mw + mx

    def dc_scan(ah: int, al: int) -> bytes:
        w = _BitWriter()
        preds = [0, 0, 0]
        for c, bi in mcu_units():
            dc = comp_blocks[c][bi][0]
            if ah == 0:
                v = dc >> al  # arithmetic shift of the signed value
                diff = v - preds[c]
                preds[c] = v
                cat = _category(diff)
                code, length = dc_codes[c][cat]
                w.put(code, length)
                if cat:
                    w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            else:
                w.put((dc >> al) & 1, 1)
        return w.flush()

    def ac_scan(c: int, ss: int, se: int, ah: int, al: int) -> bytes:
        w = _BitWriter()
        if ah == 0:
            _encode_ac_first(w, comp_blocks[c], ss, se, al)
        else:
            _encode_ac_refine(w, comp_blocks[c], ss, se, al)
        return w.flush()

    quant_l = bytes([QUANT_DC] + [QUANT_AC] * 63)
    quant_c = bytes([QUANT_DC] + [QUANT_AC_CHROMA] * 63)
    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xDB, b"\x00" + quant_l + b"\x01" + quant_c)
    out += _seg(
        0xC2,
        struct.pack(">BHHB", 8, mh * 16, mw * 16, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += _seg(
        0xC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x01" + bytes(_DC2_BITS) + bytes(_DC2_VALS)
        + b"\x10" + bytes(_ACP_BITS) + bytes(_ACP_VALS),
    )
    ileave_sos = bytes([3, 1, 0x00, 2, 0x10, 3, 0x10])
    # scan script: interleaved DC first, luma AC bands, chroma EOB-run
    # scans, then every refinement
    out += _seg(0xDA, ileave_sos + bytes([0, 0, 0x01]))
    out += dc_scan(0, 1)
    for cid, c, ss, se in (
        (1, 0, 1, 5),
        (1, 0, 6, 63),
        (2, 1, 1, 63),
        (3, 2, 1, 63),
    ):
        out += _seg(0xDA, bytes([1, cid, 0x00, ss, se, 0x01]))
        out += ac_scan(c, ss, se, 0, 1)
    out += _seg(0xDA, ileave_sos + bytes([0, 0, 0x10]))
    out += dc_scan(1, 0)
    for cid, c, ss, se in (
        (1, 0, 1, 5),
        (1, 0, 6, 63),
        (2, 1, 1, 63),
        (3, 2, 1, 63),
    ):
        out += _seg(0xDA, bytes([1, cid, 0x00, ss, se, 0x10]))
        out += ac_scan(c, ss, se, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Fixed-point integer IDCT — the exact pixel path for AC-bearing scans (r7)
# ---------------------------------------------------------------------------
#
# The pixel profile historically refused nonzero AC because an
# IEEE-float IDCT is not engine-portable: the DuckDB oracle could
# never replicate its rounding bit-for-bit. The r7 path removes the
# refusal by pinning the IDCT *specification* to pure integer
# arithmetic that BOTH engines implement identically:
#
#   B[u][t]    = floor(2^15 · C(u) · cos((2t+1)·u·π/16) / 2 + 0.5)
#                (C(0) = 1/√2, else 1 — the 1/2 folds the T.81 A.3.3
#                leading 1/4 into the two separable passes)
#   acc(x, y)  = Σ_u Σ_v F[v][u] · B[u][x] · B[v][y]      (int64)
#   pixel(x,y) = clip(128 + ((acc + 2^29) >> 30), 0, 255)
#
# |F| ≤ 12300 (the 16-bit-DQT leg) bounds |acc| < 2^46, so the sum
# never overflows int64 and — critically for the oracle — survives a
# float64 round-trip exactly, letting DuckDB evaluate the shift as
# floor((acc + 2^29) / 2^30.0) in BIGINT-exact arithmetic. The
# arithmetic right shift IS floor division, matching numpy's `>>` on
# negative int64. Quality: within ±1 of the exact real IDCT across
# the full planted coefficient range (pinned by property test), and
# bit-exact dc+128 on DC-only blocks for |dc| ≤ 12195, so the legacy
# DC-collapse profile is a strict special case. The table below is a
# LITERAL (not computed at import) so a platform libm can never skew
# the decode; tests re-derive it from the formula.

IDCT_SHIFT = 15
IDCT_BIAS = 1 << (2 * IDCT_SHIFT - 1)
IDCT_B = (
    (11585, 11585, 11585, 11585, 11585, 11585, 11585, 11585),
    (16069, 13623, 9102, 3196, -3196, -9102, -13623, -16069),
    (15137, 6270, -6270, -15137, -15137, -6270, 6270, 15137),
    (13623, -3196, -16069, -9102, 9102, 16069, 3196, -13623),
    (11585, -11585, -11585, 11585, 11585, -11585, -11585, 11585),
    (9102, -16069, 3196, 13623, -13623, -3196, 16069, -9102),
    (6270, -15137, 15137, -6270, -6270, 15137, -15137, 6270),
    (3196, -9102, 13623, -16069, 16069, -13623, 9102, -3196),
)
_IDCT_B_NP = np.array(IDCT_B, dtype=np.int64)


def idct8_fixed(coefs: np.ndarray) -> np.ndarray:
    """(n, 64) natural-order DEQUANTIZED int64 coefficients →
    (n, 8, 8) int64 pixels in [0, 255] via the pinned fixed-point
    IDCT spec above. Natural index = 8·v + u (v vertical / row
    frequency, u horizontal / column). The sum is taken as two exact
    int64 matrix products — rows, Σ_u F[v][u]·B[u][x], then columns,
    Σ_v B[v][y]·(row pass)[v][x] — which is the specified
    Σ_u Σ_v F[v][u]·B[u][x]·B[v][y] term for term."""
    c = coefs.reshape(-1, 8, 8)
    acc = _IDCT_B_NP.T @ (c @ _IDCT_B_NP)
    return np.clip(((acc + IDCT_BIAS) >> (2 * IDCT_SHIFT)) + 128, 0, 255)


# ---------------------------------------------------------------------------
# Full-RGB pixel path: integer chroma upsample + Rec.601 inverse (r8)
# ---------------------------------------------------------------------------
#
# Native-resolution YCbCr planes → full-resolution RGB, pinned to
# pure integer arithmetic so the oracle replays it exactly:
#
#   upsample  : full-res (x, y) reads plane sample (x·hc div hmax,
#               y·vc div vmax) — NEAREST NEIGHBOR by index floor.
#               This deliberately DIVERGES from JFIF's centered
#               (half-sample-offset) convention: the centered filter
#               needs either fractional phases or a bilinear kernel,
#               both of which drag rounding conventions libjpeg
#               itself has changed across versions; the floor map is
#               the one upsample every implementation agrees on
#               bit-for-bit, and the divergence is documented here
#               and in the oracle.
#   Rec.601   : ×1000 fixed point (the same style the phash luma
#               uses), truncated thousandths of the ITU-R BT.601
#               inverse, round-half-up via +500 then FLOOR division
#               (floor, not truncation — numerators go negative):
#                 R = clip(Y + (1402·(Cr−128) + 500) fdiv 1000)
#                 G = clip(Y − ((344·(Cb−128) + 714·(Cr−128) + 500)
#                               fdiv 1000))
#                 B = clip(Y + (1772·(Cb−128) + 500) fdiv 1000)

RGB_CR_R = 1402
RGB_CB_G = 344
RGB_CR_G = 714
RGB_CB_B = 1772


def upsample_nn(
    plane: np.ndarray,
    w: int,
    h: int,
    hv: tuple[int, int] | None = None,
    hvmax: tuple[int, int] | None = None,
) -> np.ndarray | None:
    """Nearest-neighbor (index-floor) upsample of a native-resolution
    plane to (h, w). When the component's true sampling factors are
    supplied (``hv`` = (h_c, v_c), ``hvmax`` = (h_max, v_max)) the
    index map is the exact documented floor map
    ``xi = (x * h_c) // h_max`` — always in-bounds because the native
    width is ceil(w·h_c/h_max) (JPEG A.1.1). Without factors the
    per-axis factor is recovered as ceil(full/native), which is only
    provably equal to h_max/h_c when full == native·factor; any other
    geometry now REFUSES (returns None) instead of silently using a
    possibly-wrong factor (r9 — e.g. 4:1:1 at width 9 recovers 3
    where the true factor is 4)."""
    ph, pw = plane.shape
    if (ph, pw) == (h, w):
        return plane
    if hv is not None and hvmax is not None:
        hc, vc = hv
        hmax, vmax = hvmax
        yi = (np.arange(h, dtype=np.int64) * vc) // vmax
        xi = (np.arange(w, dtype=np.int64) * hc) // hmax
    else:
        fy = -(-h // ph)
        fx = -(-w // pw)
        if ph * fy != h or pw * fx != w:
            return None
        yi = np.arange(h, dtype=np.int64) // fy
        xi = np.arange(w, dtype=np.int64) // fx
    return plane[np.ix_(yi, xi)]


def upsample_centered(
    plane: np.ndarray,
    w: int,
    h: int,
    hv: tuple[int, int],
    hvmax: tuple[int, int],
) -> np.ndarray | None:
    """CENTERED chroma upsample (r9, verdict item 5) — the JFIF
    convention, pinned as the libjpeg triangle filter re-derived from
    the public algorithm (jdsample.c h2v2_fancy_upsample: vertical
    3:1 column sums toward the nearer row, then horizontal 3:1 with
    alternating bias 8/7, >> 4 — all integer, so the oracle replays
    it exactly):

        out(x, y) = (9·C(xi,yi) + 3·C(xi,yf) + 3·C(xf,yi) + C(xf,yf)
                     + (8 if x even else 7)) >> 4
        xi = x//2;  xf = clamp(xi − 1) if x even else clamp(xi + 1)
        (yi/yf likewise; edge clamp duplicates the boundary sample,
        matching libjpeg's first/last-column special cases)

    Scope matches libjpeg: the triangle filter exists only for
    factor-2 axes — BOTH axes factor 2 uses the two-pass h2v2 form
    above; exactly ONE factor-2 axis (4:2:2 / 4:4:0, r9) uses the
    single-axis h2v1 form ((3·near + far + bias) >> 2, bias 1/2
    alternating, edge duplicates); every other factor (4:4:4
    identity, 4:1:1's factor-4 axis) keeps the nearest-neighbor
    index-floor map, as libjpeg does."""
    ph, pw = plane.shape
    if (ph, pw) == (h, w):
        return plane
    hc, vc = hv
    hmax, vmax = hvmax
    fx2 = hc * 2 == hmax and pw * 2 == w
    fy2 = vc * 2 == vmax and ph * 2 == h
    p = plane.astype(np.int64)
    if fx2 and fy2:
        ys = np.arange(h, dtype=np.int64)
        yi = ys // 2
        yf = np.where(ys % 2 == 0, np.maximum(yi - 1, 0), np.minimum(yi + 1, ph - 1))
        colsum_i = 3 * p[yi, :] + p[yf, :]  # (h, pw), scaled ×4
        xs = np.arange(w, dtype=np.int64)
        xi = xs // 2
        xf = np.where(xs % 2 == 0, np.maximum(xi - 1, 0), np.minimum(xi + 1, pw - 1))
        bias = np.where(xs % 2 == 0, 8, 7)
        return (3 * colsum_i[:, xi] + colsum_i[:, xf] + bias[None, :]) >> 4
    if fx2 and ph == h:  # h2v1: horizontal triangle only (4:2:2)
        xs = np.arange(w, dtype=np.int64)
        xi = xs // 2
        xf = np.where(xs % 2 == 0, np.maximum(xi - 1, 0), np.minimum(xi + 1, pw - 1))
        bias = np.where(xs % 2 == 0, 1, 2)
        return (3 * p[:, xi] + p[:, xf] + bias[None, :]) >> 2
    if fy2 and pw == w:  # h1v2: vertical triangle only (4:4:0)
        ys = np.arange(h, dtype=np.int64)
        yi = ys // 2
        yf = np.where(ys % 2 == 0, np.maximum(yi - 1, 0), np.minimum(yi + 1, ph - 1))
        bias = np.where(ys % 2 == 0, 1, 2)
        return (3 * p[yi, :] + p[yf, :] + bias[:, None]) >> 2
    return upsample_nn(plane, w, h, hv, hvmax)


def planes3_to_rgb_centered(
    w: int,
    h: int,
    planes: list[np.ndarray],
    hv: list[tuple[int, int]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """The centered-upsample twin of :func:`planes3_to_rgb` (same
    Rec.601 integer inverse, triangle-filtered chroma on 4:2:0)."""
    hvmax = (max(hc for hc, _ in hv), max(vc for _, vc in hv))
    ups = [
        upsample_centered(p, w, h, hv[c], hvmax)
        for c, p in enumerate(planes)
    ]
    if any(u is None for u in ups):
        return None
    return ycc_to_rgb_int(ups[0], ups[1], ups[2])


def ycc_to_rgb_int(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Same-shape uint8/int planes → int64 R, G, B in [0, 255] via
    the pinned integer Rec.601 spec above (numpy // floors on
    negatives, matching the oracle's floor-division idiom)."""
    yv = y.astype(np.int64)
    cb_ = cb.astype(np.int64) - 128
    cr_ = cr.astype(np.int64) - 128
    r = np.clip(yv + (RGB_CR_R * cr_ + 500) // 1000, 0, 255)
    g = np.clip(yv - (RGB_CB_G * cb_ + RGB_CR_G * cr_ + 500) // 1000, 0, 255)
    b = np.clip(yv + (RGB_CB_B * cb_ + 500) // 1000, 0, 255)
    return r, g, b


def planes3_to_rgb(
    w: int,
    h: int,
    planes: list[np.ndarray],
    hv: list[tuple[int, int]] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Native-resolution (Y, Cb, Cr) planes → full-resolution integer
    RGB channels, or None when an upsample geometry is refused.
    ``hv`` is the per-component (h_c, v_c) sampling-factor list from
    the frame header; passing it makes the index map exact for every
    JPEG geometry (r9 — without it non-block-aligned subsampled
    frames refuse, see :func:`upsample_nn`)."""
    hvmax = (
        (max(hc for hc, _ in hv), max(vc for _, vc in hv)) if hv else None
    )
    ups = [
        upsample_nn(p, w, h, hv[c] if hv else None, hvmax)
        for c, p in enumerate(planes)
    ]
    if any(u is None for u in ups):
        return None
    return ycc_to_rgb_int(ups[0], ups[1], ups[2])


def decode_jpeg_rgb(b: bytes) -> np.ndarray | None:
    """(h, w, 3) uint8 RGB for ANY profile the decoders accept, from one
    walk and one decode, dispatched on the SOF kind and component
    count: 8-bit lossless and single-component streams replicate gray
    to three channels; 3-component streams (any sampling, DC-only or
    AC, sequential or progressive) go through the pinned integer
    upsample + Rec.601 path. Lossless streams deeper than 8 bits have
    no 8-bit rendering here and are refused. The one-call entry the
    image ops (phash, resize/crop, dims) dispatch JPEG payloads to."""
    f = _walk(b)
    if f is not None and f.kind == _SOF3:
        ll = _decode_sof3(f)
        if ll is None or ll[3] != 8:
            return None
        return np.repeat(ll[2].astype(np.uint8)[:, :, None], 3, axis=2)
    d = _decode_dct(f)
    if d is None:
        return None
    w, h, arrs, hv = d
    planes = _planes(w, h, arrs, hv)
    if len(planes) == 1:
        return np.repeat(planes[0][:, :, None], 3, axis=2)
    return np.stack(planes3_to_rgb(w, h, planes, hv), axis=-1).astype(np.uint8)


# ---------------------------------------------------------------------------
# Lossless JPEG (SOF3) — ITU T.81 Annex H (r9)
# ---------------------------------------------------------------------------
# The predictive Huffman process DNG and DICOM ship: no DCT, no
# quantization — each sample codes the DIFFERENCE from one of seven
# spatial predictors (scan header Ss selects), with DC-style
# category + magnitude-bit entropy coding extended to SSSS=16 (which
# codes a difference of exactly 32768 with no magnitude bits, H.2),
# all difference arithmetic modulo 2^16 (H.1.2.2). Single-component
# 8- and 16-bit precisions are decoded; DRI in a lossless scan and
# multi-component scans are validated refusals, not guesses.

#: lossless pixel-formula constants (mirrored in the oracle SQL)
LL8_XM, LL8_YM = 3, 5
LL16_XYM, LL16_XM, LL16_YM = 257, 389, 101

#: canonical Huffman table for the lossless difference categories:
#: seventeen length-5 codes for SSSS 0..16 (codes 17..31 unused, so
#: the all-ones byte-alignment padding is never a valid code).
#: Deliberately NOT Annex K — the decoder reads whatever DHT declares.
LL_DC_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
LL_DC_VALS = list(range(17))


def ll_pixel(asset_id: int, x: int, y: int, prec: int) -> int:
    if prec == 8:
        return (x * y + LL8_XM * x + LL8_YM * y + asset_id) % 256
    return (
        LL16_XYM * x * y + LL16_XM * x + LL16_YM * y + asset_id
    ) % 65536


def _ll_predict(
    img: np.ndarray, x: int, y: int, psel: int, prec: int, pt: int
) -> int:
    """Prediction for sample (x, y) per H.1.2.1: 2^(P-1-Pt) for the
    scan's first sample, Ra across the rest of the first line, Rb at
    the start of every later line, else the selected predictor
    (divisions are arithmetic shifts, per the spec text)."""
    if y == 0:
        if x == 0:
            return 1 << (prec - 1 - pt)
        return int(img[0, x - 1])
    if x == 0:
        return int(img[y - 1, 0])
    ra = int(img[y, x - 1])
    rb = int(img[y - 1, x])
    rc = int(img[y - 1, x - 1])
    if psel == 1:
        return ra
    if psel == 2:
        return rb
    if psel == 3:
        return rc
    if psel == 4:
        return ra + rb - rc
    if psel == 5:
        return ra + ((rb - rc) >> 1)
    if psel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1


def make_jpeg_lossless(asset_id: int, prec: int = 8) -> bytes:
    """Complete spec-valid single-component LOSSLESS JPEG (SOF3):
    pixels from :func:`ll_pixel`, predictor 1 + asset_id % 7 (every
    asset stream exercises one of the seven), point transform 0,
    differences reduced modulo 2^16 into [-32767, 32768] with the
    SSSS=16 no-bits escape for exactly 32768."""
    bw, bh = jpeg_params(asset_id)
    w, h = 8 * bw, 8 * bh
    psel = 1 + asset_id % 7
    img = np.zeros((h, w), np.int64)
    for y in range(h):
        for x in range(w):
            img[y, x] = ll_pixel(asset_id, x, y, prec)
    codes = _canonical_codes(LL_DC_BITS, LL_DC_VALS)
    wtr = _BitWriter()
    for y in range(h):
        for x in range(w):
            pred = _ll_predict(img, x, y, psel, prec, 0)
            d = (int(img[y, x]) - pred) & 0xFFFF
            if d > 32768:
                d -= 65536
            if d == 32768:
                wtr.put(*codes[16])
                continue
            cat = _category(d)
            wtr.put(*codes[cat])
            if cat:
                base = d if d > 0 else d + (1 << cat) - 1
                wtr.put(base, cat)
    scan = wtr.flush()
    dht = _seg(
        0xC4, bytes([0x00]) + bytes(LL_DC_BITS) + bytes(LL_DC_VALS)
    )
    sof = _seg(
        0xC3, struct.pack(">BHHB", prec, h, w, 1) + bytes([1, 0x11, 0])
    )
    sos = _seg(0xDA, bytes([1, 1, 0x00, psel, 0, 0]))
    return (
        b"\xff\xd8" + dht + sof + sos + scan + b"\xff\xd9"
    )


def _read_ll_diff(r: _BitReader, tab: _HuffTable) -> int | None:
    """One lossless difference: category then magnitude bits, with
    the SSSS=16 → 32768 no-bits escape (H.2)."""
    cat = _read_huff(r, tab)
    if cat is None or cat > 16:
        return None
    if cat == 0:
        return 0
    if cat == 16:
        return 32768
    v = r.take(cat)
    if v is None:
        return None
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _decode_sof3(f: _Frame | None) -> tuple[int, int, np.ndarray, int] | None:
    """The lossless decode of a walked SOF3 frame → (w, h, int64 (h, w)
    sample array, precision) or None. One scan with no restart
    interval (restart geometry in a lossless scan is not implemented:
    refused, never guessed), predictor Ss in 1..7, Se = Ah = 0 and
    Pt < P. Predictions are re-derived per H.1.2.1, reconstruction is
    (pred + diff) mod 2^16 per H.1.2.2, and a sample outside the
    declared precision means a corrupt stream (refused, not clamped)."""
    if f is None or f.kind != _SOF3 or len(f.scans) != 1:
        return None
    comp_tabs, psel, se, ah, pt, segments, ri = f.scans[0]
    tab = comp_tabs[0][1]
    if ri or len(segments) != 1 or tab is None:
        return None
    if not (1 <= psel <= 7) or se or ah or pt >= f.prec:
        return None
    w, h, prec = f.w, f.h, f.prec
    if w > 1 << 14 or h > 1 << 14:
        return None
    r = _BitReader(segments[0])
    img = np.zeros((h, w), np.int64)
    maxv = (1 << prec) - 1
    for y in range(h):
        for x in range(w):
            d = _read_ll_diff(r, tab)
            if d is None:
                return None
            pred = _ll_predict(img, x, y, psel, prec, pt)
            v = (pred + d) & 0xFFFF
            if v > maxv:
                return None
            img[y, x] = v
    return w, h, img, prec


def decode_jpeg_lossless(
    b: bytes,
) -> tuple[int, int, np.ndarray, int] | None:
    """SOF3 stream → (w, h, int64 (h, w) sample array, precision) or
    None (see :func:`_decode_sof3`)."""
    return _decode_sof3(_walk(b))


JPEG_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

JPEG_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_lum", LongType(), True),
        StructField("min_lum", IntegerType(), True),
        StructField("max_lum", IntegerType(), True),
    ]
)


def synthesize_jpeg(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    return map_rows(ids, JPEG_ASSET_SCHEMA, lambda a: [(a, make_jpeg_dc(a))], id_col)


JPEG_FULL_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_lum", LongType(), True),
        StructField("min_lum", IntegerType(), True),
        StructField("max_lum", IntegerType(), True),
        StructField("n_blocks", LongType(), True),
        StructField("sum_dc_dq", LongType(), True),
        StructField("sum_ac_dq", LongType(), True),
        StructField("sum_abs_ac_dq", LongType(), True),
        StructField("n_nonzero_ac", LongType(), True),
        StructField("sum_cb", LongType(), True),
        StructField("sum_cr", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        # r9: the CENTERED-upsample (JFIF/libjpeg triangle filter)
        # twin of the NN RGB sums — differs only on 4:2:0 payloads
        StructField("sum_r_c", LongType(), True),
        StructField("sum_g_c", LongType(), True),
        StructField("sum_b_c", LongType(), True),
    ]
)


def synthesize_jpeg_mixed(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """Leg map on asset_id (mod 16 where legs split — mirrored in the
    oracle SQL): % 8 == 0 → grayscale DC-only (exact-pixel profile);
    % 8 == 2 → YCbCr 4:4:4 DC-only (r5); % 16 == 4 / 6 → YCbCr 4:2:0
    DC-only, plain / with DRI restart markers (r6); % 16 == 12 / 14 →
    YCbCr 4:1:1 DC-only (4×1 luma sampling — factor 4), plain / with
    DRI (r6); odd → AC-bearing, of which % 16 ∈ {3, 5, 7} are
    grayscale sequential, % 16 == 9 ships its quant table as a
    16-bit Pq=1 DQT (r6), % 16 == 1 is PROGRESSIVE (SOF2, six scans
    of spectral selection + successive approximation encoding the
    same blocks — r6), % 16 == 11 is 3-COMPONENT 4:2:0 PROGRESSIVE
    (interleaved DC scans + per-component AC band scans, luma AC
    formula, chroma EOB-run scans — r6), % 16 ∈ {13, 15} are
    3-COMPONENT 4:2:0 SEQUENTIAL with luma AC, plain / WITH DRI
    restart markers slicing mid-AC (r7 — the dominant real-world
    shape, decoding bit-identically to the % 16 == 11 progressive
    twin), and % 32 == 19 / 21 are LOSSLESS (SOF3, Annex H) at 8- /
    16-bit precision (r9 — carved from the grayscale-AC slots)."""

    def _mk(a: int) -> bytes:
        if a % 2 == 1:
            if a % 16 == 1:
                return make_jpeg_progressive(a)
            if a % 16 == 11:
                return make_jpeg_prog_420(a)
            if a % 16 in (13, 15):  # r7: baseline 4:2:0 WITH luma AC
                return make_jpeg_420_ac(a, dri=(a % 16 == 15))
            if a % 32 == 19:  # r9: LOSSLESS (SOF3) 8-bit, Annex H
                return make_jpeg_lossless(a, 8)
            if a % 32 == 21:  # r9: LOSSLESS 16-bit (the DNG precision)
                return make_jpeg_lossless(a, 16)
            return make_jpeg_ac16(a) if a % 16 == 9 else make_jpeg_ac(a)
        r8 = a % 8
        if r8 == 0:
            return make_jpeg_dc(a)
        if a % 16 == 10:  # r9: YCbCr 4:2:2 (luma 2x1)
            return make_jpeg_422(a, dri=False)
        if r8 == 2:
            return make_jpeg_ycc(a)
        if a % 16 in (4, 6):
            return make_jpeg_420(a, dri=(a % 16 == 6))
        return make_jpeg_411(a, dri=(a % 16 == 14))

    return map_rows(ids, JPEG_ASSET_SCHEMA, lambda a: [(a, _mk(a))], id_col)


def jpeg_full_stats(assets: DataFrame) -> DataFrame:
    """Exact pixel stats (fixed-point integer IDCT) PLUS exact integer
    pre-IDCT coefficient stats for every Huffman-DCT payload, from one
    walk and one decode per payload, dispatched on the SOF kind and
    component count. 3-component payloads add native-resolution chroma
    sums and full-resolution RGB sums through the pinned integer
    upsample + Rec.601 path, nearest-neighbour (see planes3_to_rgb) and
    centered (see planes3_to_rgb_centered). Lossless (SOF3) payloads
    report exact sample stats only: they have no blocks, coefficients
    or chroma, so those columns are NULL."""

    def stats(aid, payload):
        f = _walk(payload or b"")
        if f is not None and f.kind == _SOF3:
            ll = _decode_sof3(f)
            if ll is None:
                return [(aid,)]
            w, h, img, _prec = ll
            return [(aid, w, h, w * h, int(img.sum()), int(img.min()), int(img.max()))]
        d = _decode_dct(f)
        if d is None:
            return [(aid,)]
        w, h, arrs, hv = d
        planes = [p.astype(np.int64) for p in _planes(w, h, arrs, hv)]
        allc = np.concatenate(arrs, axis=0)
        ac = allc[:, 1:]
        y = planes[0]
        row = (
            aid, w, h, w * h, int(y.sum()), int(y.min()), int(y.max()),
            int(allc.shape[0]), int(allc[:, 0].sum()), int(ac.sum()),
            int(np.abs(ac).sum()), int((ac != 0).sum()),
        )
        if len(planes) == 3:
            rgb = (*planes3_to_rgb(w, h, planes, hv), *planes3_to_rgb_centered(w, h, planes, hv))
            row += (int(planes[1].sum()), int(planes[2].sum()), *(int(c.sum()) for c in rgb))
        return [row]

    return map_rows(assets, JPEG_FULL_SCHEMA, stats, "asset_id", "payload")
