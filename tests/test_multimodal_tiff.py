"""Baseline TIFF codec (multimodal/tiff.py): decoder pinned against
HAND-BUILT byte vectors (layouts the in-repo encoder does not emit,
so an encoder/decoder bug pair cannot cancel), the TIFF 6.0 spec's
own PackBits example, refusal probes for everything outside the
implemented profile, and a hypothesis round-trip property."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from queryengine_spark.multimodal.tiff import (
    decode_tiff,
    make_tiff,
    packbits_decode,
    packbits_encode,
    tiff_params,
)


# ------------------------------------------------------------ PackBits


def test_packbits_spec_example():
    """The worked example from TIFF 6.0 §9 (the Apple PackBits
    vector): packed FE AA | 02 80 00 2A | FD AA | 03 80 00 2A 22 |
    F7 AA unpacks to 3×AA, literals, 4×AA, literals, 10×AA."""
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    expect = (
        b"\xaa" * 3
        + b"\x80\x00\x2a"
        + b"\xaa" * 4
        + b"\x80\x00\x2a\x22"
        + b"\xaa" * 10
    )
    assert packbits_decode(packed) == expect


def test_packbits_noop_and_truncation():
    assert packbits_decode(b"\x80\x00A") == b"A"  # 128 is a no-op
    assert packbits_decode(b"\x02AB") is None  # literal promises 3, has 2
    assert packbits_decode(b"\xfe") is None  # repeat with no byte


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=600))
def test_packbits_roundtrip(data):
    assert packbits_decode(packbits_encode(data)) == data


@given(st.binary(min_size=1, max_size=600))
@settings(max_examples=200, deadline=None)
def test_packbits_compresses_runs(data):
    # worst case literal overhead is 1 control per 128 bytes
    assert len(packbits_encode(data)) <= len(data) + (len(data) + 127) // 128


# ---------------------------------------------------- hand-built pins


def _hand_tiff_1x1_gray(value: int, big_endian: bool = False) -> bytes:
    """Minimal 1×1 BlackIsZero gray TIFF assembled by hand: strip
    byte at offset 8, IFD at word-aligned offset 10, all values
    INLINE — a layout make_tiff never produces (it stores the IFD
    after out-of-line value areas)."""
    e = ">" if big_endian else "<"
    out = bytearray()
    out += struct.pack(f"{e}2sHI", b"MM" if big_endian else b"II", 42, 10)
    out += bytes([value, 0])  # strip + pad to word boundary

    def ent(tag, typ, count, val):
        if typ == 3:
            return struct.pack(f"{e}HHIHH", tag, typ, count, val, 0)
        return struct.pack(f"{e}HHII", tag, typ, count, val)

    entries = [
        ent(256, 3, 1, 1),
        ent(257, 3, 1, 1),
        ent(258, 3, 1, 8),
        ent(259, 3, 1, 1),
        ent(262, 3, 1, 1),
        ent(273, 4, 1, 8),
        ent(277, 3, 1, 1),
        ent(278, 3, 1, 1),
        ent(279, 4, 1, 1),
    ]
    out += struct.pack(f"{e}H", len(entries))
    for x in entries:
        out += x
    out += struct.pack(f"{e}I", 0)
    return bytes(out)


def test_hand_1x1_gray_both_byte_orders():
    for be in (False, True):
        arr = decode_tiff(_hand_tiff_1x1_gray(0x7F, big_endian=be))
        assert arr is not None and arr.shape == (1, 1, 3), be
        assert arr[0, 0].tolist() == [127, 127, 127], be


def test_hand_1x1_whiteiszero_inverts():
    b = bytearray(_hand_tiff_1x1_gray(10))
    # photometric entry is the 5th (tag 262); value slot at +8 of entry
    ifd = 10 + 2
    off = ifd + 12 * 4 + 8
    assert struct.unpack_from("<H", b, ifd + 12 * 4)[0] == 262
    struct.pack_into("<H", b, off, 0)  # WhiteIsZero
    arr = decode_tiff(bytes(b))
    assert arr[0, 0].tolist() == [245, 245, 245]


def test_hand_2x2_rgb_big_endian():
    """2×2 RGB, MM order, single strip, BitsPerSample out-of-line —
    pins the offset-vs-inline rule and sample order independently of
    the encoder."""
    px = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (250, 251, 252)]
    strip = b"".join(bytes(p) for p in px)
    out = bytearray()
    out += struct.pack(">2sHI", b"MM", 42, 28)
    out += strip  # offset 8, 12 bytes
    out += struct.pack(">3H", 8, 8, 8)  # BitsPerSample array @ 20
    assert len(out) == 26
    out += b"\x00\x00"  # align IFD to 28
    entries = [
        struct.pack(">HHIHH", 256, 3, 1, 2, 0),
        struct.pack(">HHIHH", 257, 3, 1, 2, 0),
        struct.pack(">HHII", 258, 3, 3, 20),
        struct.pack(">HHIHH", 259, 3, 1, 1, 0),
        struct.pack(">HHIHH", 262, 3, 1, 2, 0),
        struct.pack(">HHII", 273, 4, 1, 8),
        struct.pack(">HHIHH", 277, 3, 1, 3, 0),
        struct.pack(">HHIHH", 278, 3, 1, 2, 0),
        struct.pack(">HHII", 279, 4, 1, 12),
    ]
    out += struct.pack(">H", len(entries))
    for x in entries:
        out += x
    out += struct.pack(">I", 0)
    arr = decode_tiff(bytes(out))
    assert arr is not None and arr.shape == (2, 2, 3)
    assert arr[0, 0].tolist() == [1, 2, 3]
    assert arr[0, 1].tolist() == [4, 5, 6]
    assert arr[1, 0].tolist() == [7, 8, 9]
    assert arr[1, 1].tolist() == [250, 251, 252]


# ------------------------------------------------------------ refusals


def _mutate(b: bytes, pos: int, fmt: str, value: int, e: str = "<") -> bytes:
    out = bytearray(b)
    struct.pack_into(f"{e}{fmt}", out, pos, value)
    return bytes(out)


def test_refusals():
    base = _hand_tiff_1x1_gray(50)
    ifd = 10 + 2
    # compression 8 over a NON-zlib strip byte (r8: deflate is
    # DECODED; a garbage stream refuses via zlib.error)
    assert decode_tiff(_mutate(base, ifd + 12 * 3 + 8, "H", 8)) is None
    # compression 32946 (legacy deflate alias) same refusal path
    assert decode_tiff(_mutate(base, ifd + 12 * 3 + 8, "H", 32946)) is None
    # compression 7 (JPEG-in-TIFF, decoded since r9) over a raw
    # non-JPEG strip byte: refuses via the JPEG marker walk
    assert decode_tiff(_mutate(base, ifd + 12 * 3 + 8, "H", 7)) is None
    # compression 5 over a NON-LZW strip byte: the LZW walk hits a
    # truncated stream (no EOI) — None, never a short read
    assert decode_tiff(_mutate(base, ifd + 12 * 3 + 8, "H", 5)) is None
    # bit depth 16: entry 3 (tag 258)
    assert decode_tiff(_mutate(base, ifd + 12 * 2 + 8, "H", 16)) is None
    # bad magic
    assert decode_tiff(_mutate(base, 2, "H", 43)) is None
    # neither II nor MM
    assert decode_tiff(b"XX" + base[2:]) is None
    # tiled layout: rewrite StripOffsets tag (273) to TileWidth (322)
    assert decode_tiff(_mutate(base, ifd + 12 * 5, "H", 322)) is None
    # strip runs past EOF: StripByteCounts (entry 9, tag 279) = 999
    assert decode_tiff(_mutate(base, ifd + 12 * 8 + 8, "I", 999)) is None
    # planar configuration 2: append is complex — flip photometric to
    # an unsupported palette value (3) instead
    assert decode_tiff(_mutate(base, ifd + 12 * 4 + 8, "H", 3)) is None
    # truncated file
    assert decode_tiff(base[:9]) is None
    # PackBits strip that decodes to the wrong row length: claim
    # compression 32773 over the stored raw byte (control 0x32 =
    # literal of 51 bytes — truncated → None)
    assert decode_tiff(_mutate(base, ifd + 12 * 3 + 8, "H", 32773)) is None


# ----------------------------------------------- encoder/decoder sweep


@pytest.mark.parametrize("a", list(range(64)))
def test_roundtrip_matches_formula(a):
    from queryengine_spark.multimodal.tiff import (
        _pixel_gray0_stored,
        _pixel_gray1,
        _pixel_gray3,
        _pixel_gray6,
        _pixel_gray10,
        _pixel_rgb,
        tiff_tiled_params,
    )

    tiled = a % 16 == 10 or a % 32 == 14
    w, h = tiff_tiled_params(a) if tiled else tiff_params(a)
    arr = decode_tiff(make_tiff(a))
    assert arr is not None and arr.shape == (h, w, 3)
    for y in range(h):
        for x in range(w):
            if a % 4 == 0:
                exp = _pixel_rgb(a, x, y)
            elif a % 4 == 1:
                v = _pixel_gray1(a, x, y)
                exp = (v, v, v)
            elif a % 4 == 3:
                v = _pixel_gray3(a, x, y)
                exp = (v, v, v)
            elif a % 32 == 18:  # r9 JPEG-in-TIFF leg
                from queryengine_spark.multimodal.jpeg import (
                    DC_MOD, DC_MULT, DC_OFF,
                )

                v = ((a + 13 * (x // 8) + 31 * (y // 8)) * DC_MULT) \
                    % DC_MOD + DC_OFF + 128
                exp = (v, v, v)
            elif a % 16 == 10:  # r9 tiled LZW + predictor-2 leg
                v = _pixel_gray10(a, x, y)
                exp = (v, v, v)
            elif a % 32 in (14, 30):  # r9 tiled-RGB / planar-2 legs
                exp = _pixel_rgb(a, x, y)
            elif a % 8 == 6:  # r8 deflate leg
                v = _pixel_gray6(a, x, y)
                exp = (v, v, v)
            else:
                v = 255 - _pixel_gray0_stored(a, x, y)
                exp = (v, v, v)
            assert tuple(arr[y, x]) == exp, (a, x, y)


def test_packbits_leg_actually_compresses():
    """The gray1 formula repeats each value 4× along x — the PackBits
    strips must be SHORTER than raw (i.e. the decoder demonstrably
    decompresses, it doesn't just pass bytes through)."""
    a = 1  # leg 1
    w, h = tiff_params(a)
    if w < 8:
        a = 5  # pick a wider leg-1 asset (5 % 4 == 1)
        w, h = tiff_params(a)
    assert a % 4 == 1
    b = make_tiff(a)
    raw_size = w * h
    assert len(b) < raw_size + 220  # container overhead is ~200 bytes
    arr = decode_tiff(b)
    assert arr is not None


def test_tiff_query_plan_shuffle_free(spark, sf_dir):
    from queryengine_spark.queries.multimodal2 import multimodal_tiff_decode

    plan = (
        multimodal_tiff_decode(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only exchange is the deliberate round-robin spread()
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "Join" not in plan
    assert "MapInArrow" in plan


# ------------------------------------------------------------ LZW (r8)
#
# TIFF 6.0 §13: MSB-first bit packing, EarlyChange code widths (the
# decoder widens when its table size reaches 2^w − 1 — ONE code
# earlier than the GIF variant). Pinned by hand-computed bit vectors
# and cross-checked against an INDEPENDENT spec decoder written here
# with a different structure (parent-pointer table + big-int bit
# reader instead of bytes concatenation), so an encoder/decoder bug
# pair in the engine cannot cancel.

from queryengine_spark.multimodal.lzw import lzw_decode, lzw_encode  # noqa: E402
from queryengine_spark.multimodal.tiff import (  # noqa: E402
    TIFF_LZW,
    hdiff_decode,
    hdiff_encode,
)


def test_lzw_hand_pinned_vector():
    """encode(07 07 07 08) emits codes 256,7,258,8,257 at 9 bits:
    100000000|000000111|100000010|000001000|100000001 + 3 pad zeros
    = 80 01 E0 40 88 08 (computed by hand, MSB-first)."""
    enc = lzw_encode(b"\x07\x07\x07\x08", 8, TIFF_LZW)
    assert enc == bytes.fromhex("8001E0408808")
    assert lzw_decode(enc, 8, TIFF_LZW) == b"\x07\x07\x07\x08"


def test_lzw_empty_and_single():
    assert lzw_decode(lzw_encode(b"", 8, TIFF_LZW), 8, TIFF_LZW) == b""
    assert lzw_decode(lzw_encode(b"\x00", 8, TIFF_LZW), 8, TIFF_LZW) == b"\x00"
    nines = b"\xff" * 9
    assert lzw_decode(lzw_encode(nines, 8, TIFF_LZW), 8, TIFF_LZW) == nines


def test_lzw_truncation_refused():
    enc = lzw_encode(b"abcabcabc", 8, TIFF_LZW)
    assert lzw_decode(enc[:-2], 8, TIFF_LZW) is None  # EOI cut off
    assert lzw_decode(b"", 8, TIFF_LZW) is None


def _independent_lzw_decode(data: bytes) -> bytes | None:
    """Spec decoder, independent structure: parent-pointer table and
    a big-int MSB bit reader. Widens when next_free == 2^w − 1
    (TIFF 6.0 §13 EarlyChange)."""
    total = len(data) * 8
    bits = int.from_bytes(data, "big") if data else 0
    pos = 0

    def read(w):
        nonlocal pos
        if pos + w > total:
            return None
        v = (bits >> (total - pos - w)) & ((1 << w) - 1)
        pos += w
        return v

    def string_of(code, parent, char):
        out = []
        while code >= 256:
            out.append(char[code])
            code = parent[code]
        out.append(code)
        return bytes(reversed(out))

    out = bytearray()
    code = read(9)
    if code != 256:
        return None  # spec: streams begin with Clear
    parent: dict = {}
    char: dict = {}
    next_free = 258
    width = 9
    old = None
    while True:
        code = read(width)
        if code is None:
            return None
        if code == 256:  # Clear: table re-init (start OR mid-stream)
            parent = {}
            char = {}
            next_free = 258
            width = 9
            old = None
            continue
        if code == 257:
            return bytes(out)
        if old is None:
            # first data code after a clear is a literal, no add
            if code >= 256:
                return None
            out.append(code)
            old = code
            continue
        if code < next_free:
            s = string_of(code, parent, char)
        elif code == next_free:
            t = string_of(old, parent, char)
            s = t + t[:1]
        else:
            return None
        out += s
        if next_free < 4094:
            parent[next_free] = old
            char[next_free] = s[0]
            next_free += 1
            if next_free == (1 << width) - 1 and width < 12:
                width += 1
        old = code


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"\x00",
        b"aaaaabbbbbcccccaaaaabbbbb" * 4,
        bytes(range(256)) * 3,
        # crosses the 9→10 and 10→11 bit boundaries (≈2000 entries)
        bytes((i * 37 + (i * i) % 251) % 256 for i in range(4000)),
    ],
)
def test_lzw_independent_decoder_agrees(data):
    enc = lzw_encode(data, 8, TIFF_LZW)
    assert lzw_decode(enc, 8, TIFF_LZW) == data
    assert _independent_lzw_decode(enc) == data


def test_lzw_width12_and_table_reset():
    """60 kB of low-repetition data drives the table through the
    10/11/12-bit widths and past the 4094 cap (encoder must emit
    Clear) — both decoders must track every transition."""
    data = bytes((i * i + 7 * i) % 251 for i in range(60000))
    enc = lzw_encode(data, 8, TIFF_LZW)
    assert len(enc) < len(data) * 13 // 8  # ≤ 12 bits per byte emitted
    assert lzw_decode(enc, 8, TIFF_LZW) == data
    assert _independent_lzw_decode(enc) == data


@settings(max_examples=250, deadline=None)
@given(st.binary(max_size=900))
def test_lzw_roundtrip_property(data):
    assert lzw_decode(lzw_encode(data, 8, TIFF_LZW), 8, TIFF_LZW) == data


@settings(max_examples=120, deadline=None)
@given(
    st.binary(max_size=900),
    st.sampled_from([1, 3]),
)
def test_hdiff_roundtrip_property(data, spp):
    if len(data) % spp:
        data = data + b"\x00" * (spp - len(data) % spp)
    assert hdiff_decode(hdiff_encode(data, spp), spp) == data


def test_hdiff_pin():
    # 5, 16, 27 stored as 5, 11, 11 (mod-256 diffs); RGB diffs per
    # channel (spp lag), not per byte
    assert hdiff_encode(bytes([5, 16, 27]), 1) == bytes([5, 11, 11])
    assert hdiff_encode(bytes([10, 20, 30, 12, 25, 33]), 3) == bytes(
        [10, 20, 30, 2, 5, 3]
    )
    assert hdiff_encode(bytes([200, 100]), 1) == bytes([200, 156])  # wraps


def test_lzw_leg_actually_compresses():
    """The gray3 formula is linear in x, so Predictor 2 makes rows
    constant-diff and LZW must beat raw — the decoder demonstrably
    decompresses real compressed strips."""
    a = 23  # 23 % 4 == 3, w = 16, h = 9
    w, h = tiff_params(a)
    assert a % 4 == 3 and w * h >= 100
    b = make_tiff(a)
    assert len(b) < w * h + 200  # strictly smaller than raw + IFD
    arr = decode_tiff(b)
    assert arr is not None and arr.shape == (h, w, 3)


def test_lzw_predictor_tag_is_honored():
    """Same LZW strip bytes with Predictor 1 vs 2 must decode to
    DIFFERENT pixels (the tag is read, not assumed)."""
    from queryengine_spark.multimodal.tiff import _build_tiff

    row = bytes([10, 13, 16, 19])  # stored bytes
    strips = [lzw_encode(row, 8, TIFF_LZW)]
    kw = dict(big_endian=False, w=4, h=1, spp=1, photometric=1,
              compression=5, strips=strips)
    plain = decode_tiff(_build_tiff(predictor=1, **kw))
    accum = decode_tiff(_build_tiff(predictor=2, **kw))
    assert plain[0, :, 0].tolist() == [10, 13, 16, 19]
    assert accum[0, :, 0].tolist() == [10, 23, 39, 58]


def test_deflate_leg_real_zlib_and_alias():
    """The %8==6 leg ships compression 8 strips that really inflate;
    the legacy 32946 code is accepted as an alias on the SAME bytes;
    truncated zlib refuses."""
    import struct as _struct
    import zlib

    a = 6
    b = make_tiff(a)
    w, h = tiff_params(a)
    assert decode_tiff(b).shape == (h, w, 3)
    # flip the compression tag 259 value 8 -> 32946 in place
    pos = b.find(_struct.pack("<HHI", 259, 3, 1))
    assert pos > 0
    alias = b[: pos + 8] + _struct.pack("<H", 32946) + b[pos + 10 :]
    assert (decode_tiff(alias) == decode_tiff(b)).all()
    # corrupt the first strip's zlib header (strip area starts at
    # offset 8) -> refusal
    assert zlib  # imported for documentation of the refusal path
    bad = bytearray(b)
    bad[8] ^= 0xFF
    assert decode_tiff(bytes(bad)) is None


# ------------------------------------------- r9: tiles + planar 2


def _hand_tiled_tiff(
    *, tw: int = 16, tl: int = 16, w: int = 18, h: int = 17,
    n_tiles: int = None, drop_counts: bool = False,
    keep_strip_tag: bool = False,
) -> bytes:
    """Hand-built UNCOMPRESSED tiled grayscale container (II): a
    2×2 tile grid over an 18×17 image — a layout make_tiff never
    emits (it always compresses its tiled legs). Pixel (x, y) stores
    (x + 16*y) % 251; out-of-image tile positions store 0xEE so a
    padding blit is observable."""
    tpr, tpc = -(-w // tw), -(-h // tl)
    want = tpr * tpc if n_tiles is None else n_tiles
    tiles = []
    for ty in range(tpc):
        for tx in range(tpr):
            t = bytearray()
            for dy in range(tl):
                for dx in range(tw):
                    x, y = tx * tw + dx, ty * tl + dy
                    t.append((x + 16 * y) % 251 if x < w and y < h else 0xEE)
            tiles.append(bytes(t))
    tiles = tiles[:want]
    out = bytearray()
    pos = 8
    offs = []
    for t in tiles:
        offs.append(pos)
        pos += len(t)
    to_off, tc_off = pos, pos + 4 * len(tiles)
    ifd = tc_off + 4 * len(tiles)
    out += struct.pack("<2sHI", b"II", 42, ifd)
    for t in tiles:
        out += t
    out += struct.pack(f"<{len(tiles)}I", *offs)
    out += struct.pack(f"<{len(tiles)}I", *(len(t) for t in tiles))

    def ent(tag, typ, count, val):
        if typ == 3:
            return struct.pack("<HHIHH", tag, typ, count, val, 0)
        return struct.pack("<HHII", tag, typ, count, val)

    entries = [
        ent(256, 3, 1, w),
        ent(257, 3, 1, h),
        ent(258, 3, 1, 8),
        ent(259, 3, 1, 1),
        ent(262, 3, 1, 1),
        ent(277, 3, 1, 1),
        ent(322, 3, 1, tw),
        ent(323, 3, 1, tl),
        ent(324, 4, len(tiles), to_off),
    ]
    if keep_strip_tag:
        entries.insert(6, ent(273, 4, 1, 8))
    if not drop_counts:
        entries.append(ent(325, 4, len(tiles), tc_off))
    out += struct.pack("<H", len(entries))
    for x in entries:
        out += x
    out += struct.pack("<I", 0)
    return bytes(out)


def test_hand_tiled_uncompressed_pin():
    arr = decode_tiff(_hand_tiled_tiff())
    assert arr is not None and arr.shape == (17, 18, 3)
    for y in range(17):
        for x in range(18):
            v = (x + 16 * y) % 251
            assert tuple(arr[y, x]) == (v, v, v), (x, y)
    # 0xEE padding never leaks
    assert not (arr == 0xEE).any() or any(
        (x + 16 * y) % 251 == 0xEE for y in range(17) for x in range(18)
    )


def test_hand_tiled_refusals():
    # tile dims not multiples of 16 (TIFF 6.0 §15)
    assert decode_tiff(_hand_tiled_tiff(tw=12, tl=16, w=18)) is None
    # wrong tile count
    assert decode_tiff(_hand_tiled_tiff(n_tiles=3)) is None
    # missing TileByteCounts
    assert decode_tiff(_hand_tiled_tiff(drop_counts=True)) is None
    # mixed strip + tile tags
    assert decode_tiff(_hand_tiled_tiff(keep_strip_tag=True)) is None


def _hand_planar2_tiff(*, bad_strip_count: bool = False) -> bytes:
    """Hand-built 3×2 uncompressed PLANAR-2 RGB (II, RowsPerStrip 1):
    6 strips — R rows, then G rows, then B rows. Pixel (x,y) channel
    c stores 10*c + 3*y + x."""
    w, h = 3, 2
    strips = [
        bytes(10 * p + 3 * y + x for x in range(w))
        for p in range(3)
        for y in range(h)
    ]
    if bad_strip_count:
        strips = strips[:-1]
    out = bytearray()
    pos = 8
    offs = []
    for s in strips:
        offs.append(pos)
        pos += len(s)
    if pos % 2:
        pos += 1
    bps_off = pos
    pos += 6
    so_off, sc_off = pos, pos + 4 * len(strips)
    ifd = sc_off + 4 * len(strips)
    out += struct.pack("<2sHI", b"II", 42, ifd)
    for s in strips:
        out += s
    if len(out) % 2:
        out += b"\x00"
    out += struct.pack("<3H", 8, 8, 8)
    out += struct.pack(f"<{len(strips)}I", *offs)
    out += struct.pack(f"<{len(strips)}I", *(len(s) for s in strips))

    def ent(tag, typ, count, val):
        if typ == 3 and count == 1:
            return struct.pack("<HHIHH", tag, typ, count, val, 0)
        return struct.pack("<HHII", tag, typ, count, val)

    entries = [
        ent(256, 3, 1, w),
        ent(257, 3, 1, h),
        ent(258, 3, 3, bps_off),
        ent(259, 3, 1, 1),
        ent(262, 3, 1, 2),
        ent(273, 4, len(strips), so_off),
        ent(277, 3, 1, 3),
        ent(278, 3, 1, 1),
        ent(279, 4, len(strips), sc_off),
        ent(284, 3, 1, 2),
    ]
    out += struct.pack("<H", len(entries))
    for x in entries:
        out += x
    out += struct.pack("<I", 0)
    return bytes(out)


def test_hand_planar2_pin():
    arr = decode_tiff(_hand_planar2_tiff())
    assert arr is not None and arr.shape == (2, 3, 3)
    for y in range(2):
        for x in range(3):
            assert tuple(arr[y, x]) == tuple(
                10 * p + 3 * y + x for p in range(3)
            ), (x, y)


def test_hand_planar2_wrong_strip_count_refuses():
    assert decode_tiff(_hand_planar2_tiff(bad_strip_count=True)) is None


def test_tiled_legs_actually_compress():
    """The tiled LZW leg's formula is linear in x (constant diffs
    after Predictor 2) and the tiled deflate RGB leg is zlib — both
    must beat raw size, i.e. the decoder demonstrably decompresses."""
    from queryengine_spark.multimodal.tiff import tiff_tiled_params

    a10 = 10
    w, h = tiff_tiled_params(a10)
    assert len(make_tiff(a10)) < w * h + 300
    # the RGB formula is high-entropy mod-256, so deflate's win is on
    # the PADDED tile stream (4 full 16×16×3 tiles), not raw w·h·3
    a14 = 14
    w, h = tiff_tiled_params(a14)
    padded = (-(-w // 16) * 16) * (-(-h // 16) * 16) * 3
    assert len(make_tiff(a14)) < padded


# --------------------------------------------- r9: JPEG-in-TIFF


def test_jpeg_in_tiff_color_photometric6():
    """Hand-assembled COLOR JPEG-in-TIFF (photometric 6 = YCbCr,
    spp 3): a single strip holding a complete 3-component 4:4:4
    DC-only JFIF stream the ordinary JPEG decoder serves as RGB —
    a shape make_tiff never emits."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_rgb,
        jpeg_params,
        make_jpeg_ycc,
    )
    from queryengine_spark.multimodal.tiff import _build_tiff

    a = 2  # any id: make_jpeg_ycc dims are block-aligned
    bw, bh = jpeg_params(a)
    w, h = bw * 8, bh * 8
    stream = make_jpeg_ycc(a)
    tif = _build_tiff(
        big_endian=False, w=w, h=h, spp=3, photometric=6,
        compression=7, strips=[stream], rows_per_strip=h,
    )
    arr = decode_tiff(tif)
    want = decode_jpeg_rgb(stream)
    assert arr is not None and arr.shape == (h, w, 3)
    assert (arr == want).all()


def test_jpeg_in_tiff_refusals():
    from queryengine_spark.multimodal.jpeg import (
        jpeg_tables_blob,
        make_jpeg_gray_dc_grid,
    )
    from queryengine_spark.multimodal.tiff import _build_tiff

    stream = make_jpeg_gray_dc_grid(8, 8, [[5]])
    ok = _build_tiff(
        big_endian=False, w=8, h=8, spp=1, photometric=1,
        compression=7, strips=[stream], rows_per_strip=8,
    )
    assert decode_tiff(ok) is not None
    # predictor 2 does not compose with JPEG compression
    assert decode_tiff(_build_tiff(
        big_endian=False, w=8, h=8, spp=1, photometric=1,
        compression=7, strips=[stream], rows_per_strip=8, predictor=2,
    )) is None
    # photometric 2 (plain RGB) is not a JPEG-in-TIFF shape
    assert decode_tiff(_build_tiff(
        big_endian=False, w=8, h=8, spp=3, photometric=2,
        compression=7, strips=[stream], rows_per_strip=8,
    )) is None
    # garbage strip bytes refuse via the JPEG parser
    assert decode_tiff(_build_tiff(
        big_endian=False, w=8, h=8, spp=1, photometric=1,
        compression=7, strips=[b"\x00" * 40], rows_per_strip=8,
    )) is None
    # abbreviated stream WITHOUT the JPEGTables tag refuses
    ab = make_jpeg_gray_dc_grid(8, 8, [[5]], abbreviated=True)
    assert decode_tiff(_build_tiff(
        big_endian=False, w=8, h=8, spp=1, photometric=1,
        compression=7, strips=[ab], rows_per_strip=8,
    )) is None
    # wrong-dims stream (claims 16 wide in an 8-wide strip) refuses
    wide = make_jpeg_gray_dc_grid(16, 8, [[5, 6]])
    assert decode_tiff(_build_tiff(
        big_endian=False, w=8, h=8, spp=1, photometric=1,
        compression=7, strips=[wide], rows_per_strip=8,
    )) is None
    # and the abbreviated + tables pair decodes equal to inline
    abt = _build_tiff(
        big_endian=False, w=8, h=8, spp=1, photometric=1,
        compression=7, strips=[ab], rows_per_strip=8,
        jpegtables=jpeg_tables_blob(),
    )
    got = decode_tiff(abt)
    assert got is not None and (got == decode_tiff(ok)).all()


# ---------------------------------------------------------------------------
# r11: grayscale bit depths 1 / 4 / 16
# ---------------------------------------------------------------------------


def test_deep_gray_roundtrips_all_depths():
    import numpy as np

    from queryengine_spark.multimodal.tiff import (
        _pixel_gray_deep,
        make_tiff_gray_deep,
        tiff_params,
    )

    for a in range(12):
        for bps in (1, 4, 16):
            w, h = tiff_params(a)
            arr = decode_tiff(make_tiff_gray_deep(a, bps))
            assert arr is not None, (a, bps)
            assert arr.dtype == (np.uint16 if bps == 16 else np.uint8)
            want = np.array(
                [
                    [_pixel_gray_deep(a, x, y, bps) for x in range(w)]
                    for y in range(h)
                ]
            )
            if a % 8 == 5:  # WhiteIsZero: inversion is code-range
                want = ((1 << bps) - 1) - want
            assert (arr[..., 0] == want).all(), (a, bps)
            assert (arr[..., 0] == arr[..., 2]).all()


def test_deep_gray_hand_bit_vector():
    """Hand 1-bit 10x2 image: row bytes pad at ROW boundaries
    (TIFF 6.0 §4) — a decoder unpacking the strip as one bitstream
    misplaces row 2."""
    import numpy as np

    from queryengine_spark.multimodal.tiff import _build_tiff

    # row 1: 1010101010 -> 0xAA 0x80 ; row 2: 0000011111 -> 0x07 0xC0
    raw = bytes([0xAA, 0x80, 0x07, 0xC0])
    b = _build_tiff(
        big_endian=False, w=10, h=2, spp=1, photometric=1,
        compression=1, strips=[raw], bps=1, rows_per_strip=2,
    )
    arr = decode_tiff(b)
    assert arr is not None
    assert arr[0, :, 0].tolist() == [1, 0, 1, 0, 1, 0, 1, 0, 1, 0]
    assert arr[1, :, 0].tolist() == [0, 0, 0, 0, 0, 1, 1, 1, 1, 1]
    # 16-bit endianness: MM vs II decode the same values
    vals = [0, 1, 255, 256, 65535, 4660]
    for big in (False, True):
        fmt = (">" if big else "<") + "6H"
        import struct as _s

        row = _s.pack(fmt, *vals)
        b16 = _build_tiff(
            big_endian=big, w=6, h=1, spp=1, photometric=1,
            compression=1, strips=[row], bps=16, rows_per_strip=1,
        )
        a16 = decode_tiff(b16)
        assert a16 is not None and a16[0, :, 0].tolist() == vals
    _ = np


def test_deep_gray_refusals():
    """Out-of-profile combinations refuse: sub-byte with predictor
    or planar 2, depth 16 RGB, depth 2."""
    from queryengine_spark.multimodal.tiff import _build_tiff

    raw = bytes([0xAA])
    good = _build_tiff(
        big_endian=False, w=8, h=1, spp=1, photometric=1,
        compression=1, strips=[raw], bps=1, rows_per_strip=1,
    )
    assert decode_tiff(good) is not None
    # predictor 2 with sub-byte depth refuses
    bad = _build_tiff(
        big_endian=False, w=8, h=1, spp=1, photometric=1,
        compression=1, strips=[raw], bps=1, rows_per_strip=1,
        predictor=2,
    )
    assert decode_tiff(bad) is None
    # depth 2 (never a TIFF baseline depth) refuses
    bad2 = _build_tiff(
        big_endian=False, w=4, h=1, spp=1, photometric=1,
        compression=1, strips=[raw], bps=2, rows_per_strip=1,
    )
    assert decode_tiff(bad2) is None


def test_deep_corpus_query_plan_no_shuffle(spark):
    """The r11 deep-gray corpus slot: spread fan-out + two
    MapInArrow, stats match the direct decode."""
    from pyspark.sql import functions as F

    from queryengine_spark.multimodal.tiff import (
        deep_bps,
        make_tiff_gray_deep,
        synthesize_tiff_deep,
        tiff_deep_stats,
    )

    ids = spark.range(0, 9).select(F.col("id").alias("asset_id"))
    df = tiff_deep_stats(synthesize_tiff_deep(ids))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = {r.asset_id: r for r in df.collect()}
    assert len(rows) == 9
    import numpy as np

    for a in range(9):
        arr = decode_tiff(make_tiff_gray_deep(a, deep_bps(a)))
        v = arr[..., 0].astype(np.int64)
        r = rows[a]
        assert (r.bps, r.n_px, r.code_sum, r.corner_code) == (
            deep_bps(a), v.size, int(v.sum()), int(v[-1, -1])
        )
