"""JPEG DC-profile decoder correctness independent of the
synthesizer: hand-assembled entropy bitstreams (computed from the
Annex K canonical code tables by hand, positive AND negative DC
diffs) pin the Huffman decoding, sign extension, and DC prediction;
refusal probes pin the restricted-profile Nones."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from queryengine_spark.multimodal.jpeg import (
    _AC_BITS,
    _AC_VALS,
    _DC_BITS,
    _DC_VALS,
    QUANT_DC,
    _seg,
    block_dc,
    decode_jpeg_dc,
    jpeg_params,
    make_jpeg_dc,
)


def _headers(bw: int, bh: int, q0: int = QUANT_DC) -> bytes:
    quant = bytes([q0] + [16] * 63)
    return (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + quant)
        + _seg(0xC0, struct.pack(">BHHB", 8, bh * 8, bw * 8, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    )


def test_hand_assembled_single_block():
    # DC diff +5: category 3 -> canonical DC code '100', magnitude
    # bits '101'; EOB -> canonical AC code '1010'. 10 bits padded
    # with 1s -> 0x96, 0xBF. Pixels = 5*q0/8 + 128 = 133 everywhere.
    img = decode_jpeg_dc(_headers(1, 1) + bytes([0x96, 0xBF]) + b"\xff\xd9")
    assert img is not None and img.shape == (8, 8)
    assert (img == 133).all()


def test_hand_assembled_negative_diff_and_prediction():
    # Two blocks: dc 5 then dc 0. Block 2 encodes diff = -5:
    # category 3, magnitude bits = -5 + 7 = '010'.
    # Bits: [100 101 1010][100 010 1010] + '1111' pad
    #     -> 0x96, 0xA2, 0xAF
    img = decode_jpeg_dc(_headers(2, 1) + bytes([0x96, 0xA2, 0xAF]) + b"\xff\xd9")
    assert img is not None and img.shape == (8, 16)
    assert (img[:, :8] == 133).all()
    assert (img[:, 8:] == 128).all()


def test_synthesized_assets_decode_to_formula():
    for aid in (0, 7, 42, 999, 123456):
        img = decode_jpeg_dc(make_jpeg_dc(aid))
        bw, bh = jpeg_params(aid)
        assert img is not None and img.shape == (bh * 8, bw * 8)
        exp = np.empty((bh * 8, bw * 8), dtype=np.uint8)
        for by in range(bh):
            for bx in range(bw):
                exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    block_dc(aid, bx, by) + 128
                )
        assert (img == exp).all()


def test_byte_unstuffing_hand_vector():
    # Two blocks: diff -128 (dc=-128, pixel 0) then diff +255
    # (dc=127, pixel 255). Both are category 8 (code '111110');
    # magnitude bits: -128+255='01111111', +255='11111111'. Stream:
    #   111110 01111111 1010 111110 11111111 1010 + '1111' pad
    # -> bytes F9 FE BE FF AF, and the 0xFF data byte must be
    # STUFFED as FF 00 on disk — so this pins the unstuffing path.
    scan = bytes([0xF9, 0xFE, 0xBE, 0xFF, 0x00, 0xAF])
    img = decode_jpeg_dc(_headers(2, 1) + scan + b"\xff\xd9")
    assert img is not None and img.shape == (8, 16)
    assert (img[:, :8] == 0).all()
    assert (img[:, 8:] == 255).all()
    # and the module's own writer produces exactly this stuffed form:
    # encode the same diffs through _BitWriter for parity
    from queryengine_spark.multimodal.jpeg import (
        _BitWriter,
        _canonical_codes,
    )

    dc = _canonical_codes(_DC_BITS, _DC_VALS)
    ac = _canonical_codes(_AC_BITS, _AC_VALS)
    w = _BitWriter()
    for diff in (-128, 255):
        cat = 8
        code, length = dc[cat]
        w.put(code, length)
        bits = diff if diff >= 0 else diff + (1 << cat) - 1
        w.put(bits, cat)
        w.put(*ac[0x00])
    assert w.flush() == scan


def test_nonzero_ac_is_refused_not_approximated():
    # AC run/size 0x01 = canonical code '00', then 1 magnitude bit.
    # Bits: [100 101] dc=5, then AC '00' + '1' + EOB '1010' + pad
    #     -> 100101 00 1 1010 111 -> 0x94, 0xD7
    img = decode_jpeg_dc(_headers(1, 1) + bytes([0x94, 0xD7]) + b"\xff\xd9")
    assert img is None


def test_restricted_profile_refusals():
    good = make_jpeg_dc(3)
    assert decode_jpeg_dc(b"") is None
    assert decode_jpeg_dc(good[:40]) is None  # truncated mid-headers
    # q0 not a multiple of 8 -> exact-pixel contract broken -> None
    assert decode_jpeg_dc(_headers(1, 1, q0=10) + bytes([0x96, 0xBF]) + b"\xff\xd9") is None
    # progressive SOF2 must be refused
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg_dc(prog) is None
    # truncated entropy stream (EOI right after headers)
    assert decode_jpeg_dc(_headers(1, 1) + b"\xff\xd9") is None


# --- r5: AC coefficient-domain decoding ------------------------------------


def test_zigzag_known_positions():
    """Pin the generated zigzag table against hand-derived spec
    positions (a generation bug must not be able to cancel against
    the encoder, which never uses the table)."""
    from queryengine_spark.multimodal.jpeg import ZIGZAG_NAT

    assert len(ZIGZAG_NAT) == 64 and sorted(ZIGZAG_NAT) == list(range(64))
    assert ZIGZAG_NAT[0] == 0          # DC
    assert ZIGZAG_NAT[1] == 1          # (0,1)
    assert ZIGZAG_NAT[2] == 8          # (1,0)
    assert ZIGZAG_NAT[3] == 16         # (2,0)
    assert ZIGZAG_NAT[5] == 2          # (0,2)
    assert ZIGZAG_NAT[18] == 26        # (3,2) — s=5 diagonal, 4th entry
    assert ZIGZAG_NAT[63] == 63        # (7,7)


def test_hand_assembled_ac_block_with_zrl():
    # One block: DC diff +5 ('100'+'101'), AC k=1 value 3 (run 0,
    # size 2 -> rs 0x02 code '01', bits '11'), 16 zeros, AC k=18
    # value -1 (ZRL '11111111001', then rs 0x01 code '00', bit '0'),
    # EOB '1010'. 28 bits + '1111' pad:
    #   10010101 11111111 11001000 10101111
    # -> 0x95 0xFF(stuffed +00) 0xC8 0xAF
    from queryengine_spark.multimodal.jpeg import decode_jpeg_coeffs

    scan = bytes([0x95, 0xFF, 0x00, 0xC8, 0xAF])
    got = decode_jpeg_coeffs(_headers(1, 1) + scan + b"\xff\xd9")
    assert got is not None
    w, h, coefs = got
    assert (w, h) == (8, 8) and coefs.shape == (1, 64)
    exp = np.zeros(64, dtype=np.int64)
    exp[0] = 5 * QUANT_DC     # dequantized DC
    exp[1] = 3 * 16           # zigzag 1 -> natural 1
    exp[26] = -1 * 16         # zigzag 18 -> natural (3,2)
    assert (coefs[0] == exp).all()
    # and the module's own encoder emits exactly this stuffed stream
    from queryengine_spark.multimodal.jpeg import _encode_scan

    block = [0] * 64
    block[0], block[1], block[18] = 5, 3, -1
    assert _encode_scan([block]) == scan


def test_ac_formula_assets_decode_exactly():
    from queryengine_spark.multimodal.jpeg import (
        AC_POSITIONS,
        ZIGZAG_NAT,
        block_ac,
        decode_jpeg_coeffs,
        make_jpeg_ac,
    )

    for aid in (1, 7, 42, 999, 123457):
        got = decode_jpeg_coeffs(make_jpeg_ac(aid))
        bw, bh = jpeg_params(aid)
        assert got is not None
        w, h, coefs = got
        assert (w, h) == (bw * 8, bh * 8) and coefs.shape == (bw * bh, 64)
        for by in range(bh):
            for bx in range(bw):
                exp = np.zeros(64, dtype=np.int64)
                exp[0] = block_dc(aid, bx, by) * QUANT_DC
                for p in AC_POSITIONS:
                    exp[ZIGZAG_NAT[p]] = block_ac(aid, bx, by, p) * 16
                assert (coefs[by * bw + bx] == exp).all()


def test_coeff_decode_of_dc_only_assets():
    """The coefficient decoder must also handle plain EOB blocks: a
    DC-only payload yields all-zero AC and the dequantized DC."""
    from queryengine_spark.multimodal.jpeg import decode_jpeg_coeffs

    aid = 42
    got = decode_jpeg_coeffs(make_jpeg_dc(aid))
    assert got is not None
    bw, bh = jpeg_params(aid)
    _, _, coefs = got
    assert coefs.shape == (bw * bh, 64)
    assert (coefs[:, 1:] == 0).all()
    for by in range(bh):
        for bx in range(bw):
            assert coefs[by * bw + bx, 0] == block_dc(aid, bx, by) * QUANT_DC


def test_coeff_roundtrip_property():
    """Hypothesis: random sparse quantized blocks survive
    encode→decode bit-exactly (dequantized), including runs that
    need one or two ZRLs and blocks ending at k=63."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from queryengine_spark.multimodal.jpeg import (
        ZIGZAG_NAT,
        _container,
        _encode_scan,
        decode_jpeg_coeffs,
    )

    nonzero = st.integers(-1023, 1023).filter(lambda v: v != 0)
    block = st.dictionaries(st.integers(1, 63), nonzero, max_size=8).flatmap(
        lambda acs: st.integers(-1023, 1023).map(lambda dc: (dc, acs))
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(block, min_size=1, max_size=4))
    def run(blocks):
        zz = []
        for dc, acs in blocks:
            co = [0] * 64
            co[0] = dc
            for k, v in acs.items():
                co[k] = v
            zz.append(co)
        payload = _container(len(blocks), 1, _encode_scan(zz))
        got = decode_jpeg_coeffs(payload)
        assert got is not None
        _, _, coefs = got
        for bi, co in enumerate(zz):
            exp = np.zeros(64, dtype=np.int64)
            exp[0] = co[0] * QUANT_DC
            for k in range(1, 64):
                exp[ZIGZAG_NAT[k]] = co[k] * 16
            assert (coefs[bi] == exp).all()

    run()


def _headers_dri(bw: int, bh: int, ri: int) -> bytes:
    """Grayscale headers with a DRI segment between DHT and SOS."""
    quant = bytes([QUANT_DC] + [16] * 63)
    return (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + quant)
        + _seg(0xC0, struct.pack(">BHHB", 8, bh * 8, bw * 8, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        + _seg(0xDD, struct.pack(">H", ri))
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    )


def test_dri_hand_assembled_predictor_reset():
    """Two blocks, restart interval 1, a real RST0 between them. Both
    blocks encode diff +5 — WITHOUT the predictor reset the second
    block would decode to dc 10 (pixel 138); the reset pins it back
    to dc 5 (pixel 133). Each segment: '100 101 1010' + 1-pad
    → 0x96 0xBF (the single-block hand vector, byte-aligned twice)."""
    seg = bytes([0x96, 0xBF])
    scan = seg + b"\xff\xd0" + seg
    img = decode_jpeg_dc(_headers_dri(2, 1, 1) + scan + b"\xff\xd9")
    assert img is not None and img.shape == (8, 16)
    assert (img == 133).all()


def test_dri_wrong_sequence_number_refused():
    """Restart markers must cycle RST0, RST1, ... — an out-of-order
    marker is stream corruption, not data."""
    seg = bytes([0x96, 0xBF])
    bad = seg + b"\xff\xd1" + seg  # RST1 where RST0 is required
    assert decode_jpeg_dc(_headers_dri(2, 1, 1) + bad + b"\xff\xd9") is None


def test_dri_missing_restart_marker_refused():
    """A declared restart interval with no markers in the scan means
    the segment count can't match ceil(MCUs/interval) → None, never
    a silently mispredicted decode."""
    from queryengine_spark.multimodal.jpeg import _seg as seg_, decode_jpeg_coeffs

    good = make_jpeg_dc(3)  # 4 blocks, no restart markers in the scan
    dri = good[:2] + seg_(0xDD, struct.pack(">H", 2)) + good[2:]
    assert decode_jpeg_coeffs(dri) is None
    assert decode_jpeg_dc(dri) is None


def test_dri_coeffs_path_resets_predictor():
    """decode_jpeg_coeffs honors restarts too: same two-block stream,
    both blocks must dequantize to dc 5·q0, not 5 then 10."""
    from queryengine_spark.multimodal.jpeg import decode_jpeg_coeffs

    seg = bytes([0x96, 0xBF])
    scan = seg + b"\xff\xd0" + seg
    res = decode_jpeg_coeffs(_headers_dri(2, 1, 1) + scan + b"\xff\xd9")
    assert res is not None
    _, _, coefs = res
    assert coefs[0, 0] == 5 * QUANT_DC and coefs[1, 0] == 5 * QUANT_DC


def test_truncated_sof_returns_none():
    """A SOF declaring 3 components but truncated mid-component-list
    must return None, not raise (r5 ADVICE: one corrupt payload must
    not fail the whole mapInPandas batch)."""
    from queryengine_spark.multimodal.jpeg import _parse_segments_multi

    bad_sof = _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 3) + bytes([1, 0x11, 0]))
    payload = b"\xff\xd8" + bad_sof + b"\xff\xd9"
    assert _parse_segments_multi(payload) is None
    assert decode_jpeg_dc(payload) is None


def test_oversubscribed_huffman_table_keeps_lut_size():
    """A malformed DHT with more codes than its lengths allow (three
    1-bit codes) must not grow the decode LUT past the 16-bit space;
    the codes that fit still decode."""
    from queryengine_spark.multimodal.jpeg import _canonical_codes, _HuffTable

    table = _HuffTable(_canonical_codes([3] + [0] * 15, [7, 8, 9]))
    assert len(table.lut) == 65536
    assert table.lut[0] == (1, 7) and table.lut[0xFFFF] == (1, 8)


def test_huffman_memos_stay_bounded(monkeypatch):
    """More distinct DHT tables than the memo cap leave both Huffman
    memos at or below the cap, and a table built after a reset still
    decodes."""
    from queryengine_spark.multimodal import jpeg

    monkeypatch.setattr(jpeg, "_MEMO_MAX", 8)
    monkeypatch.setattr(jpeg, "_CANONICAL_MEMO", {})
    monkeypatch.setattr(jpeg, "_DECODE_TABLE_MEMO", {})
    for v in range(3 * 8 + 1):
        table = jpeg._build_decode_table([1] + [0] * 15, [v])
        assert len(jpeg._CANONICAL_MEMO) <= 8
        assert len(jpeg._DECODE_TABLE_MEMO) <= 8
        assert table.lut[0] == (1, v)
    assert jpeg._build_decode_table([1] + [0] * 15, [v]) is table


# --- r5: 3-component YCbCr 4:4:4 -------------------------------------------


def test_ycc_assets_decode_to_formula():
    import numpy as np

    from queryengine_spark.multimodal.jpeg import (
        block_dc3,
        decode_jpeg_dc3,
        make_jpeg_ycc,
    )

    for aid in (0, 7, 42, 999):
        img = decode_jpeg_dc3(make_jpeg_ycc(aid))
        bw, bh = jpeg_params(aid)
        assert img is not None and img.shape == (bh * 8, bw * 8, 3)
        for c in range(3):
            exp = np.empty((bh * 8, bw * 8), dtype=np.uint8)
            for by in range(bh):
                for bx in range(bw):
                    exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        block_dc3(aid, c, bx, by) + 128
                    )
            assert (img[:, :, c] == exp).all(), (aid, c)


def test_ycc_separate_predictors_hand_vector():
    """Two-MCU hand check: component predictors must be SEPARATE —
    Cb's second-block diff is relative to Cb's first block, never to
    Y's or Cr's. Verified via the formula assets (block (1,0) diffs
    differ per component) plus a direct cross-check that a decoder
    with one shared predictor would disagree."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import (
        block_dc3,
        decode_jpeg_dc3,
        jpeg_params,
        make_jpeg_ycc,
    )

    aid = 1  # bw=2: two MCUs in a row
    bw, bh = jpeg_params(aid)
    assert bw >= 2
    img = decode_jpeg_dc3(make_jpeg_ycc(aid))
    assert img is not None
    # second MCU's values per component match per-component prediction
    for c in range(3):
        assert img[0, 8, c] == (block_dc3(aid, c, 1, 0) + 128) % 256


def test_ycc_gray_paths_do_not_cross():
    """A 3-component file is refused by the single-component paths
    and vice versa."""
    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        decode_jpeg_dc3,
        make_jpeg_ycc,
    )

    ycc = make_jpeg_ycc(5)
    assert decode_jpeg_dc(ycc) is None
    assert decode_jpeg_coeffs(ycc) is None
    assert decode_jpeg_dc3(make_jpeg_dc(5)) is None


def test_decode_dims_routes_ycc(spark):
    from queryengine_spark.multimodal import extract_features
    from queryengine_spark.multimodal.jpeg import jpeg_params, make_jpeg_ycc

    df = spark.createDataFrame(
        [(9, "image/jpeg", make_jpeg_ycc(9), None)],
        "asset_id long, media_type string, payload binary, n_bytes long",
    )
    row = extract_features(df).collect()[0]
    bw, bh = jpeg_params(9)
    assert (row["width"], row["height"]) == (bw * 8, bh * 8)


# --- r6: 4:2:0 chroma subsampling + DRI restart intervals -------------------


def test_420_assets_decode_to_formula():
    """Every synthesized 4:2:0 asset (with and without DRI) decodes
    plane-exactly to the block_dc3 formula in each component's OWN
    grid: luma 2mw×2mh blocks, chroma mw×mh."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import (
        block_dc3,
        decode_jpeg_dc_planes,
        make_jpeg_420,
    )

    for aid, dri in ((4, False), (6, True), (12, False), (14, True), (22, True)):
        res = decode_jpeg_dc_planes(make_jpeg_420(aid, dri=dri))
        assert res is not None, (aid, dri)
        w, h, planes = res
        mw, mh = jpeg_params(aid)
        assert (w, h) == (16 * mw, 16 * mh)
        assert planes[0].shape == (h, w)
        assert planes[1].shape == planes[2].shape == (h // 2, w // 2)
        for c, p in enumerate(planes):
            nby, nbx = p.shape[0] // 8, p.shape[1] // 8
            for by in range(nby):
                for bx in range(nbx):
                    want = block_dc3(aid, c, bx, by) + 128
                    assert (p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == want).all()


def test_420_hand_assembled_mcu_interleave_order():
    """One-MCU 4:2:0 stream with six DISTINCT dc values pins the
    block order inside the MCU: Y(0,0) Y(1,0) Y(0,1) Y(1,1) Cb Cr —
    a decoder walking Y blocks column-major or putting chroma first
    would scramble them. All six components/tables = Annex K luma
    pair (table ids 0), so the stream is hand-computable: diff d ∈
    {1..6} relative to the per-component predictor."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import (
        _AC_BITS,
        _AC_VALS,
        _DC_BITS,
        _DC_VALS,
        _BitWriter,
        _canonical_codes,
        _seg,
        decode_jpeg_dc_planes,
    )

    dc = _canonical_codes(_DC_BITS, _DC_VALS)
    ac = _canonical_codes(_AC_BITS, _AC_VALS)
    # dc values per unit in scan order: Y blocks 10, 20, 30, 40 then
    # Cb 50, Cr 60; Y diffs are 10,10,10,10 (running predictor), the
    # chroma diffs are absolute (each component's first block)
    w = _BitWriter()
    for diff in (10, 10, 10, 10, 50, 60):
        cat = diff.bit_length()
        code, length = dc[cat]
        w.put(code, length)
        w.put(diff, cat)
        w.put(*ac[0x00])
    scan = w.flush()
    quant = bytes([QUANT_DC] + [16] * 63)
    sof = struct.pack(">BHHB", 8, 16, 16, 3) + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    payload = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + quant)
        + _seg(0xC0, sof)
        + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    res = decode_jpeg_dc_planes(payload)
    assert res is not None
    w_, h_, planes = res
    assert (w_, h_) == (16, 16)
    y, cb, cr = planes
    assert y[0, 0] == 138 and y[0, 8] == 148   # Y(0,0)=10, Y(1,0)=20
    assert y[8, 0] == 158 and y[8, 8] == 168   # Y(0,1)=30, Y(1,1)=40
    assert (cb == 178).all() and (cr == 188).all()


def test_420_padding_blocks_trimmed():
    """Non-multiple-of-16 width (24×16): mcux=2 pads the chroma plane
    to 16 columns on the wire; the decoder must trim it to the native
    ceil(24/2)=12 (JPEG A.1.1) while decoding the padding blocks."""
    from queryengine_spark.multimodal import jpeg as J

    dc_codes = [
        J._canonical_codes(J._DC_BITS, J._DC_VALS),
        J._canonical_codes(J._DC2_BITS, J._DC2_VALS),
        J._canonical_codes(J._DC2_BITS, J._DC2_VALS),
    ]
    ac_codes = [
        J._canonical_codes(J._AC_BITS, J._AC_VALS),
        J._canonical_codes(J._AC2_BITS, J._AC2_VALS),
        J._canonical_codes(J._AC2_BITS, J._AC2_VALS),
    ]
    w = J._BitWriter()
    preds = [0, 0, 0]
    vals = {}
    v = 0
    for mcu in range(2):
        my, mx = divmod(mcu, 2)
        units = [(0, 2 * mx + dx, 2 * my + dy) for dy in (0, 1) for dx in (0, 1)]
        units += [(1, mx, my), (2, mx, my)]
        for c, bx, by in units:
            v += 3
            dcv = v - 20
            vals[(c, bx, by)] = dcv
            diff = dcv - preds[c]
            preds[c] = dcv
            cat = J._category(diff)
            code, ln = dc_codes[c][cat]
            w.put(code, ln)
            if cat:
                w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            w.put(*ac_codes[c][0x00])
    scan = w.flush()
    quant_l = bytes([8] + [16] * 63)
    quant_c = bytes([8] + [17] * 63)
    dqt = b"\x00" + quant_l + b"\x01" + quant_c
    sof = struct.pack(">BHHB", 8, 16, 24, 3) + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    dht = (
        b"\x00" + bytes(J._DC_BITS) + bytes(J._DC_VALS)
        + b"\x10" + bytes(J._AC_BITS) + bytes(J._AC_VALS)
        + b"\x01" + bytes(J._DC2_BITS) + bytes(J._DC2_VALS)
        + b"\x11" + bytes(J._AC2_BITS) + bytes(J._AC2_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    payload = (
        b"\xff\xd8" + J._seg(0xDB, dqt) + J._seg(0xC0, sof) + J._seg(0xC4, dht)
        + J._seg(0xDA, sos) + scan + b"\xff\xd9"
    )
    res = J.decode_jpeg_dc_planes(payload)
    assert res is not None
    w_, h_, planes = res
    assert (w_, h_) == (24, 16)
    assert planes[0].shape == (16, 24)
    assert planes[1].shape == (8, 12)
    assert planes[0][0, 16] == vals[(0, 2, 0)] + 128  # 2nd MCU, 1st Y block
    assert planes[1][0, 8] == vals[(1, 1, 0)] + 128   # 2nd MCU's Cb block


def test_420_dri_restart_resets_all_predictors():
    """The DRI synthesis leg's scan really contains RSTn markers and
    the decode is formula-exact (covered above); here additionally
    pin that STRIPPING the restart markers from the scan breaks the
    decode (segment-count mismatch) — i.e. the markers are load-
    bearing, not cosmetic."""
    import re as _re

    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_dc_planes,
        make_jpeg_420,
    )

    payload = make_jpeg_420(14, dri=True)  # mw=5·? → multiple MCUs, ri=1+14%3=3
    assert decode_jpeg_dc_planes(payload) is not None
    # locate the scan (after SOS) and strip RSTn markers from it
    sos_at = payload.find(b"\xff\xda")
    scan_at = sos_at + 2 + struct.unpack(">H", payload[sos_at + 2 : sos_at + 4])[0]
    head, scan = payload[:scan_at], payload[scan_at:]
    stripped = head + _re.sub(b"\xff[\xd0-\xd7]", b"", scan)
    assert stripped != payload  # markers were present
    assert decode_jpeg_dc_planes(stripped) is None


def test_420_subsampled_refused_by_dc3_and_gray_paths():
    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        decode_jpeg_dc3,
        make_jpeg_420,
    )

    p = make_jpeg_420(4, dri=False)
    assert decode_jpeg_dc3(p) is None  # planes differ in shape
    assert decode_jpeg_dc(p) is None
    assert decode_jpeg_coeffs(p) is None


def test_sampling_factor_limits():
    """r6: the gate widened from {1,2} to the FULL legal 1..4 range —
    what remains refused is exactly what the spec forbids: factor 0,
    factors 5..15 (B.2.2), and interleaved MCUs over 10 data units
    (B.2.3: 2×2 + 2×2 + 2×2 = 12 blocks)."""
    from queryengine_spark.multimodal.jpeg import (
        _parse_segments_multi,
        make_jpeg_420,
    )

    p = make_jpeg_420(4, dri=False)
    assert _parse_segments_multi(p) is not None
    for samp in (0x52, 0x25, 0x02, 0x20, 0xF1):
        bad = p.replace(bytes([1, 0x22, 0]), bytes([1, samp, 0]), 1)
        assert _parse_segments_multi(bad) is None, hex(samp)
    over = p.replace(
        bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
        bytes([1, 0x22, 0, 2, 0x22, 1, 3, 0x22, 1]),
        1,
    )
    assert _parse_segments_multi(over) is None


def test_411_assets_decode_to_formula():
    """r6: every synthesized 4:1:1 asset (sampling factor FOUR, with
    and without DRI) decodes plane-exactly to the block_dc3 formula:
    luma 4mw×mh blocks, chroma mw×mh, 32·mw × 8·mh pixels."""
    from queryengine_spark.multimodal.jpeg import (
        block_dc3,
        decode_jpeg_dc_planes,
        make_jpeg_411,
    )

    for aid, dri in ((12, False), (14, True), (28, False), (30, True)):
        res = decode_jpeg_dc_planes(make_jpeg_411(aid, dri=dri))
        assert res is not None, (aid, dri)
        w, h, planes = res
        mw, mh = jpeg_params(aid)
        assert (w, h) == (32 * mw, 8 * mh)
        assert planes[0].shape == (h, w)
        assert planes[1].shape == planes[2].shape == (h, w // 4)
        for c, p in enumerate(planes):
            for by in range(p.shape[0] // 8):
                for bx in range(p.shape[1] // 8):
                    want = block_dc3(aid, c, bx, by) + 128
                    assert (p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == want).all()


def test_411_hand_assembled_block_order():
    """One-MCU 4:1:1 stream: the four Y blocks must land LEFT-TO-RIGHT
    (raster order within the 4×1 MCU), pinned with distinct values."""
    from queryengine_spark.multimodal.jpeg import (
        _BitWriter,
        _canonical_codes,
        _DC2_BITS,
        _DC2_VALS,
        _AC2_BITS,
        _AC2_VALS,
        decode_jpeg_dc_planes,
    )

    dc_l = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_l = _canonical_codes(_AC_BITS, _AC_VALS)
    dc_c = _canonical_codes(_DC2_BITS, _DC2_VALS)
    ac_c = _canonical_codes(_AC2_BITS, _AC2_VALS)

    def put_dc(w, codes, ac, diff):
        cat = 0 if diff == 0 else abs(diff).bit_length()
        c, ln = codes[cat]
        w.put(c, ln)
        if cat:
            w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        e, el = ac[0x00]
        w.put(e, el)

    w = _BitWriter()
    # Y blocks: dc 8, 16, 24, 32 encoded as successive diffs of +8
    pred = 0
    for dc in (8, 16, 24, 32):
        put_dc(w, dc_l, ac_l, dc - pred)
        pred = dc
    put_dc(w, dc_c, ac_c, -8)  # Cb
    put_dc(w, dc_c, ac_c, 40)  # Cr (separate predictor: diff from 0... )
    scan = w.flush()
    quant = bytes([8] + [16] * 63)
    hdr = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + quant + b"\x01" + quant)
        + _seg(
            0xC0,
            struct.pack(">BHHB", 8, 8, 32, 3)
            + bytes([1, 0x41, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        + _seg(
            0xC4,
            b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
            + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
            + b"\x01" + bytes(_DC2_BITS) + bytes(_DC2_VALS)
            + b"\x11" + bytes(_AC2_BITS) + bytes(_AC2_VALS),
        )
        + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    )
    res = decode_jpeg_dc_planes(hdr + scan + b"\xff\xd9")
    assert res is not None
    w_, h_, planes = res
    assert (w_, h_) == (32, 8)
    for i, want in enumerate((8, 16, 24, 32)):
        assert (planes[0][:, i * 8 : i * 8 + 8] == want + 128).all(), i
    assert (planes[1] == -8 + 128).all()
    assert (planes[2] == 40 + 128).all()


def test_16bit_quant_table_decodes_exactly():
    """r6: a Pq=1 DQT with q_ac = 300 (unrepresentable in 8 bits)
    parses and dequantizes exactly; Pq≥2 is refused."""
    from queryengine_spark.multimodal.jpeg import (
        AC_POSITIONS,
        QUANT_AC16,
        ZIGZAG_NAT,
        _parse_segments_multi,
        block_ac,
        decode_jpeg_coeffs,
        make_jpeg_ac16,
    )

    for aid in (9, 25, 41):
        p = make_jpeg_ac16(aid)
        res = decode_jpeg_coeffs(p)
        assert res is not None
        w, h, coefs = res
        bw, bh = jpeg_params(aid)
        for bi in range(bw * bh):
            by, bx = divmod(bi, bw)
            assert coefs[bi, 0] == block_dc(aid, bx, by) * QUANT_DC
            for pz in AC_POSITIONS:
                assert (
                    coefs[bi, ZIGZAG_NAT[pz]]
                    == block_ac(aid, bx, by, pz) * QUANT_AC16
                )
        # flip the precision nibble to the undefined Pq=2 → refusal
        i = p.index(b"\xff\xdb") + 4
        bad = p[:i] + bytes([0x20 | (p[i] & 0x0F)]) + p[i + 1 :]
        assert _parse_segments_multi(bad) is None


# --- r6: progressive (SOF2) coefficient-domain decode -----------------------


def test_progressive_matches_sequential_coefficients():
    """Every progressive asset decodes to coefficients BIT-IDENTICAL
    to the sequential encoding of the same formula blocks — the
    whole claim of the progressive path; and every sequential-only
    decoder refuses SOF2."""
    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        decode_jpeg_coeffs_prog,
        decode_jpeg_dc_planes,
        make_jpeg_ac,
        make_jpeg_progressive,
    )

    for a in (1, 17, 33, 49, 65, 113):
        p = make_jpeg_progressive(a)
        res = decode_jpeg_coeffs_prog(p)
        assert res is not None, a
        w1, h1, c1 = res
        w2, h2, c2 = decode_jpeg_coeffs(make_jpeg_ac(a))
        assert (w1, h1) == (w2, h2)
        assert (c1 == c2).all(), a
        assert decode_jpeg_coeffs(p) is None
        assert decode_jpeg_dc(p) is None
        assert decode_jpeg_dc_planes(p) is None


def _prog_headers(bw, bh, dri=0):
    from queryengine_spark.multimodal.jpeg import (
        _ACP_BITS,
        _ACP_VALS,
    )

    out = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + bytes([QUANT_DC] + [16] * 63))
        + _seg(
            0xC2,
            struct.pack(">BHHB", 8, bh * 8, bw * 8, 1) + bytes([1, 0x11, 0]),
        )
        + _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xC4, b"\x10" + bytes(_ACP_BITS) + bytes(_ACP_VALS))
    )
    if dri:
        out += _seg(0xDD, struct.pack(">H", dri))
    return out


def _sos(ss, se, ah, al):
    return _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))


def test_progressive_hand_assembled_ac_first_eobrun():
    """HAND-computed bitstream (independent of the encoder) for a
    2-block AC-first scan with an EOB run of 2 carrying one extension
    bit: custom 7-bit canonical table → code(sym) = sorted index.
    DC scan '010 1' + '010 0' = 0x54; AC scan: value 3 is category 2
    → sym 0x02 (idx 2 = 0000010) + bits '11', then EOB2 = sym 0x10
    (idx 7 = 0000111) + ext '0' → 0x05 0x87 0x7F."""
    from queryengine_spark.multimodal.jpeg import (
        ZIGZAG_NAT,
        decode_jpeg_coeffs_prog,
    )

    b = (
        _prog_headers(2, 1)
        + _sos(0, 0, 0, 0)
        + bytes([0x54])
        + _sos(1, 63, 0, 0)
        + bytes([0x05, 0x87, 0x7F])
        + b"\xff\xd9"
    )
    res = decode_jpeg_coeffs_prog(b)
    assert res is not None
    w, h, c = res
    assert (w, h) == (16, 8)
    assert c[0, 0] == 1 * QUANT_DC
    assert c[0, ZIGZAG_NAT[1]] == 3 * 16
    assert c[0].sum() == 1 * QUANT_DC + 3 * 16  # nothing else set
    assert c[1].sum() == 0  # dc diff -1 brought pred back to 0


def test_progressive_hand_assembled_refinement_bits():
    """HAND-computed refinement scan: one block, ac k1=5, k2=-1.
    First AC scan at Al=1 sends only k1 (magnitude 2): sym 0x02
    (idx 2 = 0000010) + '10', EOB1 = sym 0x00 (0000000) → 0x05 0x00.
    The refine scan at Al=0 must emit sym 0x01 (idx 1 = 0000001),
    sign '0' (new k2 = -1), then k1's buffered correction bit '1',
    then EOB → 0x02 0x80. Decoder must apply the correction bit to
    k1 (4 → 5) BEFORE placing the new -1 at k2."""
    from queryengine_spark.multimodal.jpeg import (
        ZIGZAG_NAT,
        decode_jpeg_coeffs_prog,
    )

    b = (
        _prog_headers(1, 1)
        + _sos(0, 0, 0, 0)
        + bytes([0x3F])  # dc diff 0: '00' + pad
        + _sos(1, 63, 0, 1)
        + bytes([0x05, 0x00])
        + _sos(1, 63, 1, 0)
        + bytes([0x02, 0x80])
        + b"\xff\xd9"
    )
    res = decode_jpeg_coeffs_prog(b)
    assert res is not None
    _, _, c = res
    assert c[0, 0] == 0
    assert c[0, ZIGZAG_NAT[1]] == 5 * 16
    assert c[0, ZIGZAG_NAT[2]] == -1 * 16
    assert abs(c[0]).sum() == 6 * 16


def test_progressive_dri_restart_resets_predictor():
    """DRI applies inside progressive scans too: ri=1, two blocks of
    dc 3 and 5 — the second SEGMENT re-encodes 5 as a fresh diff
    (predictor reset), '100 101' = 0x97; without the reset the diff
    would have been 2."""
    from queryengine_spark.multimodal.jpeg import decode_jpeg_coeffs_prog

    b = (
        _prog_headers(2, 1, dri=1)
        + _sos(0, 0, 0, 0)
        + bytes([0x7F])  # '011 11' dc=3, pad
        + b"\xff\xd0"
        + bytes([0x97])  # '100 101' dc=5 from reset predictor
        + b"\xff\xd9"
    )
    res = decode_jpeg_coeffs_prog(b)
    assert res is not None
    _, _, c = res
    assert c[0, 0] == 3 * QUANT_DC
    assert c[1, 0] == 5 * QUANT_DC


def test_progressive_scan_script_violations_refused():
    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_coeffs_prog,
        make_jpeg_progressive,
    )

    good = make_jpeg_progressive(1)
    assert decode_jpeg_coeffs_prog(good) is not None
    # multi-component SOF2 → refused at parse (patch the ncomp byte:
    # SOF body = prec(1) h(2) w(2) ncomp(1), after marker+length)
    i = good.index(b"\xff\xc2") + 9
    bad = good[:i] + b"\x03" + good[i + 1 :]
    assert decode_jpeg_coeffs_prog(bad) is None
    # AC scan before any DC scan (G.1.1.1.1)
    b = _prog_headers(1, 1) + _sos(1, 63, 0, 0) + bytes([0x00]) + b"\xff\xd9"
    assert decode_jpeg_coeffs_prog(b) is None
    # refinement with Ah != Al + 1
    b = (
        _prog_headers(1, 1)
        + _sos(0, 0, 0, 0)
        + bytes([0x3F])
        + _sos(1, 63, 2, 0)
        + bytes([0x00])
        + b"\xff\xd9"
    )
    assert decode_jpeg_coeffs_prog(b) is None
    # truncated entropy: '100 101' decodes block 1 (dc diff 5), then
    # block 2's code starts '10' and the bits run out mid-codeword
    b = _prog_headers(2, 1) + _sos(0, 0, 0, 0) + bytes([0x96]) + b"\xff\xd9"
    assert decode_jpeg_coeffs_prog(b) is None


def test_progressive_roundtrip_property():
    """Adversarial random blocks through the real encoder → decoder:
    empty blocks in runs (EOB runs with extension bits), ±1 values
    (vanish at Al=1, reappear as newly-nonzero in refinement), long
    zero gaps (ZRL in first AND refinement scans), and a randomized
    spectral split. The decoder must reproduce the blocks exactly."""
    from hypothesis import given, settings, strategies as st

    from queryengine_spark.multimodal.jpeg import (
        ZIGZAG_NAT,
        _assemble_progressive,
        decode_jpeg_coeffs_prog,
    )

    @st.composite
    def blocks_and_split(draw):
        n = draw(st.integers(1, 6))
        blocks = []
        for _ in range(n):
            coefs = [0] * 64
            coefs[0] = draw(st.integers(-60, 60))
            if not draw(st.booleans()):  # some blocks stay AC-empty
                for _ in range(draw(st.integers(1, 6))):
                    k = draw(st.integers(1, 63))
                    coefs[k] = draw(
                        st.sampled_from([-33, -17, -2, -1, 1, 2, 3, 21])
                    )
            blocks.append(coefs)
        split = draw(st.integers(1, 62))
        return blocks, split

    @settings(max_examples=120, deadline=None)
    @given(blocks_and_split())
    def run(bs):
        blocks, split = bs
        script = (
            (0, 0, 0, 1),
            (1, split, 0, 1),
            (split + 1, 63, 0, 1),
            (0, 0, 1, 0),
            (1, split, 1, 0),
            (split + 1, 63, 1, 0),
        )
        b = _assemble_progressive(len(blocks), 1, blocks, script)
        res = decode_jpeg_coeffs_prog(b)
        assert res is not None
        _, _, c = res
        for bi, coefs in enumerate(blocks):
            for k, v in enumerate(coefs):
                q = QUANT_DC if k == 0 else 16
                assert c[bi, ZIGZAG_NAT[k]] == v * q, (bi, k)

    run()


def test_prog3_assets_decode_to_formula():
    """3-component 4:2:0 progressive: interleaved DC scans +
    per-component AC band scans reassemble every component's exact
    coefficients — luma carries the AC formula, chroma decodes
    all-zero AC from pure EOB-run scans (mw·mh-block end-of-band
    runs with extension bits)."""
    from queryengine_spark.multimodal.jpeg import (
        AC_POSITIONS,
        QUANT_AC,
        ZIGZAG_NAT,
        block_ac,
        block_dc3,
        decode_jpeg_coeffs_prog,
        decode_jpeg_coeffs_prog3,
        make_jpeg_prog_420,
    )

    for a in (11, 27, 43, 59):  # includes mw·mh up to 12 (long EOB runs)
        p = make_jpeg_prog_420(a)
        res = decode_jpeg_coeffs_prog3(p)
        assert res is not None, a
        w, h, arrs = res
        mw, mh = jpeg_params(a)
        assert (w, h) == (16 * mw, 16 * mh)
        for c, (cw, ch) in enumerate(((2 * mw, 2 * mh), (mw, mh), (mw, mh))):
            assert arrs[c].shape == (cw * ch, 64)
            for by in range(ch):
                for bx in range(cw):
                    row = arrs[c][by * cw + bx]
                    assert row[0] == block_dc3(a, c, bx, by) * QUANT_DC
                    if c == 0:
                        for pz in AC_POSITIONS:
                            assert (
                                row[ZIGZAG_NAT[pz]]
                                == block_ac(a, bx, by, pz) * QUANT_AC
                            )
                    else:
                        assert (row[1:] == 0).all()
        assert decode_jpeg_coeffs_prog(p) is None  # wrong-arity wrapper


def test_prog3_luma_padding_blocks_outside_real_grid():
    """8×8-pixel 4:2:0 progressive: one MCU carries FOUR luma blocks
    but the real luma grid is 1×1 — the interleaved DC scan must
    write the three padding blocks somewhere the REAL-grid output
    never reads, and the non-interleaved luma AC scan walks only the
    single real block. Assembled from the bit primitives directly so
    make_jpeg_prog_420's no-padding geometry cannot mask a bug."""
    from queryengine_spark.multimodal.jpeg import (
        _ACP_BITS,
        _ACP_VALS,
        _BitWriter,
        _canonical_codes,
        _DC2_BITS,
        _DC2_VALS,
        _seg,
        decode_jpeg_coeffs_prog3,
    )

    dc_l = _canonical_codes(_DC_BITS, _DC_VALS)
    dc_c = _canonical_codes(_DC2_BITS, _DC2_VALS)
    acp = _canonical_codes(_ACP_BITS, _ACP_VALS)

    def put_diff(w, codes, diff):
        cat = 0 if diff == 0 else abs(diff).bit_length()
        c, ln = codes[cat]
        w.put(c, ln)
        if cat:
            w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)

    # DC-first scan (Al=0), one MCU: Y blocks 7, 1, 2, 3 (real block
    # first, then three padding blocks), Cb -4, Cr 9
    w = _BitWriter()
    pred = 0
    for dc in (7, 1, 2, 3):
        put_diff(w, dc_l, dc - pred)
        pred = dc
    put_diff(w, dc_c, -4)
    put_diff(w, dc_c, 9)
    dc_scan = w.flush()
    # luma AC-first scan (band 1..63, Al=0), ONE block only: k=1
    # value 2 → sym 0x02 idx 2, bits '10'; EOB1 sym 0x00
    w = _BitWriter()
    c2, l2 = acp[0x02]
    w.put(c2, l2)
    w.put(2, 2)
    e0, el0 = acp[0x00]
    w.put(e0, el0)
    ac_scan = w.flush()
    quant = bytes([QUANT_DC] + [16] * 63)
    b = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + quant + b"\x01" + quant)
        + _seg(
            0xC2,
            struct.pack(">BHHB", 8, 8, 8, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        + _seg(
            0xC4,
            b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
            + b"\x01" + bytes(_DC2_BITS) + bytes(_DC2_VALS)
            + b"\x10" + bytes(_ACP_BITS) + bytes(_ACP_VALS),
        )
        + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x00]))
        + dc_scan
        + _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
        + ac_scan
        + b"\xff\xd9"
    )
    res = decode_jpeg_coeffs_prog3(b)
    assert res is not None
    w_, h_, arrs = res
    assert (w_, h_) == (8, 8)
    # real luma grid is exactly ONE block: dc 7, ac k1=2
    assert arrs[0].shape == (1, 64)
    assert arrs[0][0, 0] == 7 * QUANT_DC
    assert arrs[0][0, 1] == 2 * 16
    assert arrs[1][0, 0] == -4 * QUANT_DC
    assert arrs[2][0, 0] == 9 * QUANT_DC


def test_prog3_interleaved_ac_scan_refused():
    """G.1: progressive AC scans must be single-component — an ns=3
    SOS with Ss>0 is refused at parse."""
    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_coeffs_prog3,
        make_jpeg_prog_420,
    )

    good = make_jpeg_prog_420(11)
    # patch the FIRST single-component luma AC SOS (ns=1, cid=1,
    # Ss=1, Se=5) into a 3-component one is length-inconsistent;
    # instead patch the interleaved DC SOS's Ss byte to 1
    i = good.index(bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x01]))
    bad = (
        good[:i]
        + bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 1, 5, 0x01])
        + good[i + 10 :]
    )
    assert decode_jpeg_coeffs_prog3(bad) is None


# --------------------------------------------------- full-RGB path (r8)


def test_ycc_to_rgb_hand_pins():
    """Hand-computed vectors for the pinned ×1000 Rec.601 inverse
    (floor division — NOT truncation — on negative numerators)."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import ycc_to_rgb_int

    def one(y, cb, cr):
        r, g, b = ycc_to_rgb_int(
            np.array([[y]]), np.array([[cb]]), np.array([[cr]])
        )
        return int(r[0, 0]), int(g[0, 0]), int(b[0, 0])

    assert one(128, 128, 128) == (128, 128, 128)  # neutral chroma
    # Cr=200: R = 100 + floor((1402·72+500)/1000) = 100+101 = 201
    #         G = 100 − floor((714·72+500)/1000) = 100−51 = 49
    assert one(100, 128, 200) == (201, 49, 100)
    # Cr=50 (cr_=−78): numerator 1402·(−78)+500 = −108856 →
    # floor(−108.856) = −109 → R = max(0, 100−109) = 0;
    # G = 100 − floor((714·(−78)+500)/1000) = 100 − (−56) = 156
    assert one(100, 128, 50) == (0, 156, 100)
    # Cb=228: B = 50 + floor((1772·100+500)/1000) = 50+177 = 227;
    # G = 50 − floor((344·100+500)/1000) = 50−34 = 16; R unchanged
    assert one(50, 228, 128) == (50, 16, 227)
    # clamps at the top rail: R = 250+101 → 255, B = 250+177 → 255,
    # G = 250 − floor((34400+51408+500)/1000) = 250−86 = 164
    assert one(250, 228, 200) == (255, 164, 255)


def test_upsample_nn_index_floor():
    import numpy as np

    from queryengine_spark.multimodal.jpeg import upsample_nn

    p = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    up = upsample_nn(p, 4, 4)
    assert up.tolist() == [
        [1, 1, 2, 2],
        [1, 1, 2, 2],
        [3, 3, 4, 4],
        [3, 3, 4, 4],
    ]
    # 4:1:1 shape: 4× horizontal only
    up2 = upsample_nn(np.array([[5, 9]], dtype=np.uint8), 8, 1)
    assert up2.tolist() == [[5, 5, 5, 5, 9, 9, 9, 9]]
    # identity when shapes already match
    assert upsample_nn(p, 2, 2) is p


@pytest.mark.parametrize("a", [2, 4, 6, 11, 12, 13, 14, 15])
def test_rgb_sums_match_bruteforce(a):
    """planes3_to_rgb against a per-pixel pure-Python recomputation
    (explicit x·hc//hmax chroma map + the Rec.601 integer formulas)
    for one asset of every 3-component leg shape."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import (
        decode_jpeg_dc_planes,
        decode_jpeg_pixels_prog3,
        decode_jpeg_pixels_seq_multi,
        make_jpeg_420,
        make_jpeg_420_ac,
        make_jpeg_411,
        make_jpeg_prog_420,
        make_jpeg_ycc,
        planes3_to_rgb,
    )

    if a % 16 == 11:
        b = make_jpeg_prog_420(a)
        res = decode_jpeg_pixels_prog3(b)
    elif a % 16 in (13, 15):
        b = make_jpeg_420_ac(a, dri=(a % 16 == 15))
        res = decode_jpeg_pixels_seq_multi(b)
    elif a % 8 == 2:
        b = make_jpeg_ycc(a)
        res = decode_jpeg_dc_planes(b)
    elif a % 16 in (4, 6):
        b = make_jpeg_420(a, dri=(a % 16 == 6))
        res = decode_jpeg_dc_planes(b)
    else:
        b = make_jpeg_411(a, dri=(a % 16 == 14))
        res = decode_jpeg_dc_planes(b)
    assert res is not None
    w, h, planes = res
    r, g, bl = planes3_to_rgb(w, h, planes)
    Y, Cb, Cr = (p.astype(int) for p in planes)
    fy = -(-h // Cb.shape[0])
    fx = -(-w // Cb.shape[1])
    for y in range(h):
        for x in range(w):
            yy = int(Y[y, x])
            cb = int(Cb[y // fy, x // fx]) - 128
            cr = int(Cr[y // fy, x // fx]) - 128
            rr = min(255, max(0, yy + (1402 * cr + 500) // 1000))
            gg = min(255, max(0, yy - (344 * cb + 714 * cr + 500) // 1000))
            bb = min(255, max(0, yy + (1772 * cb + 500) // 1000))
            assert (int(r[y, x]), int(g[y, x]), int(bl[y, x])) == (rr, gg, bb), (a, x, y)


def test_multi3_single_decode_views_agree():
    """The r8 shared-decode views must equal the public two-pass
    functions (coefficients AND pixels) — the de-duplicated decode
    path changes cost, never values."""
    from queryengine_spark.multimodal.jpeg import (
        _decode_progressive,
        _decode_sequential_multi,
        _multi3_from_prog,
        _multi3_from_seq,
        decode_jpeg_coeffs_prog3,
        decode_jpeg_pixels_prog3,
        decode_jpeg_pixels_seq_multi,
        decode_jpeg_seq_coeffs_multi,
        make_jpeg_420_ac,
        make_jpeg_prog_420,
    )

    b = make_jpeg_prog_420(11)
    w, h, arrs, planes, _hv = _multi3_from_prog(_decode_progressive(b))
    w2, h2, arrs2 = decode_jpeg_coeffs_prog3(b)
    _, _, planes2 = decode_jpeg_pixels_prog3(b)
    assert (w, h) == (w2, h2)
    assert all((x == y).all() for x, y in zip(arrs, arrs2))
    assert all((x == y).all() for x, y in zip(planes, planes2))

    b = make_jpeg_420_ac(13, dri=False)
    w, h, arrs, planes, _hv2 = _multi3_from_seq(_decode_sequential_multi(b))
    w2, h2, arrs2 = decode_jpeg_seq_coeffs_multi(b)
    _, _, planes2 = decode_jpeg_pixels_seq_multi(b)
    assert (w, h) == (w2, h2)
    assert all((x == y).all() for x, y in zip(arrs, arrs2))
    assert all((x == y).all() for x, y in zip(planes, planes2))


class TestCenteredUpsample:
    """r9 (verdict item 5): the centered (JFIF/libjpeg triangle
    filter) chroma upsample, pinned against an independent scalar
    re-derivation and hand-computed values."""

    def test_hand_vector_2x2(self):
        import numpy as np

        from queryengine_spark.multimodal.jpeg import upsample_centered

        plane = np.array([[10, 50], [90, 130]], dtype=np.uint8)
        out = upsample_centered(plane, 4, 4, (1, 1), (2, 2))
        # hand-computed: corner (0,0) = full-weight duplicate = 10;
        # (1,0): taps xi=0 xf=1 yi=0 yf=0 → (9*10+3*10+3*50+50+7)>>4
        assert out[0, 0] == 10
        assert out[0, 1] == (9 * 10 + 3 * 10 + 3 * 50 + 50 + 7) >> 4
        assert out[1, 0] == (9 * 10 + 3 * 90 + 3 * 10 + 90 + 8) >> 4
        assert out[1, 1] == (9 * 10 + 3 * 90 + 3 * 50 + 130 + 7) >> 4
        # interior symmetry: (2,2) leans toward sample (1,1)
        assert out[2, 2] == (9 * 130 + 3 * 50 + 3 * 90 + 10 + 8) >> 4
        assert out.shape == (4, 4)

    def test_matches_independent_scalar_loop(self):
        import numpy as np

        from queryengine_spark.multimodal.jpeg import upsample_centered

        rng = [(3, 5), (4, 4), (2, 7)]
        for ph, pw in rng:
            plane = np.array(
                [[(7 * i + 13 * j) % 256 for i in range(pw)] for j in range(ph)],
                dtype=np.uint8,
            )
            h, w = 2 * ph, 2 * pw
            got = upsample_centered(plane, w, h, (1, 1), (2, 2))
            p = plane.astype(int)
            for y in range(h):
                yi = y // 2
                yf = max(yi - 1, 0) if y % 2 == 0 else min(yi + 1, ph - 1)
                for x in range(w):
                    xi = x // 2
                    xf = max(xi - 1, 0) if x % 2 == 0 else min(xi + 1, pw - 1)
                    bias = 8 if x % 2 == 0 else 7
                    want = (
                        9 * p[yi][xi] + 3 * p[yf][xi] + 3 * p[yi][xf]
                        + p[yf][xf] + bias
                    ) >> 4
                    assert got[y, x] == want, (ph, pw, x, y)

    def test_non_420_falls_back_to_nn(self):
        import numpy as np

        from queryengine_spark.multimodal.jpeg import (
            upsample_centered,
            upsample_nn,
        )

        plane = np.arange(12, dtype=np.uint8).reshape(1, 12)
        # 4:1:1 horizontal factor 4: centered == NN by spec
        a = upsample_centered(plane, 48, 1, (1, 1), (4, 1))
        b = upsample_nn(plane, 48, 1, (1, 1), (4, 1))
        assert (a == b).all()

    def test_full_stats_centered_equals_nn_outside_420(self, spark):
        from queryengine_spark.multimodal.jpeg import (
            jpeg_full_stats,
            synthesize_jpeg_mixed,
        )

        ids = spark.createDataFrame(
            [(i,) for i in range(64)], "asset_id long"
        )
        rows = jpeg_full_stats(synthesize_jpeg_mixed(ids)).collect()
        saw_diff = saw_eq = 0
        for r in rows:
            if r["sum_r"] is None:
                assert r["sum_r_c"] is None
                continue
            a = r["asset_id"]
            if a % 16 in (4, 6, 10, 11, 13, 15):  # 4:2:0 / 4:2:2 differ
                if (r["sum_r"], r["sum_g"], r["sum_b"]) != (
                    r["sum_r_c"], r["sum_g_c"], r["sum_b_c"]
                ):
                    saw_diff += 1
            else:  # 4:4:4 / 4:1:1: centered == NN by spec
                assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (
                    r["sum_r_c"], r["sum_g_c"], r["sum_b_c"]
                ), a
                saw_eq += 1
        assert saw_diff > 0 and saw_eq > 0


def test_422_leg_decodes_to_formula():
    """r9: the 4:2:2 (luma 2×1) profile — per-component planes match
    block_dc3 at each plane's native resolution, and the h2v1
    centered chroma matches an independent scalar loop."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import (
        block_dc3,
        decode_jpeg_dc_planes_hv,
        jpeg_params,
        make_jpeg_422,
        planes3_to_rgb_centered,
        upsample_centered,
    )

    for aid in (10, 26, 42):
        bw, bh = jpeg_params(aid)
        w, h, planes, hv = decode_jpeg_dc_planes_hv(make_jpeg_422(aid, False))
        assert (w, h) == (16 * bw, 8 * bh)
        assert hv == [(2, 1), (1, 1), (1, 1)]
        assert planes[0].shape == (8 * bh, 16 * bw)
        assert planes[1].shape == (8 * bh, 8 * bw)
        for c in range(3):
            p = planes[c]
            for by in range(p.shape[0] // 8):
                for bx in range(p.shape[1] // 8):
                    assert (
                        p[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8]
                        == block_dc3(aid, c, bx, by) + 128
                    ).all(), (aid, c, bx, by)
        # h2v1 centered == scalar re-derivation on the Cb plane
        got = upsample_centered(planes[1], w, h, (1, 1), (2, 1))
        pl = planes[1].astype(int)
        pw = pl.shape[1]
        for y in (0, h - 1):
            for x in range(w):
                xi = x // 2
                xf = max(xi - 1, 0) if x % 2 == 0 else min(xi + 1, pw - 1)
                bias = 1 if x % 2 == 0 else 2
                assert got[y, x] == (3 * pl[y][xi] + pl[y][xf] + bias) >> 2
        assert planes3_to_rgb_centered(w, h, planes, hv) is not None


def test_h1v2_centered_vertical_triangle():
    """The 4:4:0 (vertical-only factor 2) centered path, pinned by a
    scalar re-derivation — no synthesized leg emits it, so the unit
    vector is its only guard."""
    import numpy as np

    from queryengine_spark.multimodal.jpeg import upsample_centered

    pl = np.array([[(11 * i + 5 * j) % 256 for i in range(6)] for j in range(3)],
                  dtype=np.uint8)
    got = upsample_centered(pl, 6, 6, (1, 1), (1, 2))
    p = pl.astype(int)
    for y in range(6):
        yi = y // 2
        yf = max(yi - 1, 0) if y % 2 == 0 else min(yi + 1, 2)
        bias = 1 if y % 2 == 0 else 2
        for x in range(6):
            assert got[y, x] == (3 * p[yi][x] + p[yf][x] + bias) >> 2, (x, y)


# --- r9: lossless (SOF3, Annex H) -------------------------------------------


class TestLosslessJpeg:
    def _container(self, prec, w, h, psel, entropy, pt=0, dri=None, ncomp=1):
        import queryengine_spark.multimodal.jpeg as J

        dht = J._seg(
            0xC4, bytes([0x00]) + bytes(J.LL_DC_BITS) + bytes(J.LL_DC_VALS)
        )
        comps = b"".join(bytes([c + 1, 0x11, 0]) for c in range(ncomp))
        sof = J._seg(0xC3, struct.pack(">BHHB", prec, h, w, ncomp) + comps)
        scomps = b"".join(bytes([c + 1, 0x00]) for c in range(ncomp))
        sos = J._seg(0xDA, bytes([ncomp]) + scomps + bytes([psel, 0, pt]))
        mid = J._seg(0xDD, struct.pack(">H", dri)) if dri else b""
        return b"\xff\xd8" + dht + mid + sof + sos + entropy + b"\xff\xd9"

    def test_hand_assembled_vector(self):
        """2x2, predictor 1, hand-computed codes (17 length-5
        canonical codes => code(cat) == cat): pixels
        [[100,103],[90,95]] from diffs -28, +3, -10, +5 — the
        decoder is pinned with no encoder in the loop."""
        import queryengine_spark.multimodal.jpeg as J

        bits = (
            "00101" "00011"      # cat 5, -28 (base 3)
            "00010" "11"         # cat 2, +3
            "00100" "0101"       # cat 4, -10 (base 5)
            "00011" "101"        # cat 3, +5
        )
        bits += "1" * (-len(bits) % 8)
        entropy = int(bits, 2).to_bytes(len(bits) // 8, "big")
        res = J.decode_jpeg_lossless(self._container(8, 2, 2, 1, entropy))
        assert res is not None
        w, h, img, prec = res
        assert (w, h, prec) == (2, 2, 8)
        assert img.tolist() == [[100, 103], [90, 95]]

    def test_ssss16_escape_and_mod_wrap(self):
        """16-bit, first sample 0: diff = (0 - 32768) mod 2^16 =
        32768 -> the SSSS=16 no-bits escape; reconstruction wraps
        back to 0 (H.1.2.2)."""
        import queryengine_spark.multimodal.jpeg as J

        bits = "10000" + "00000"  # cat 16 (escape), then cat 0 (same)
        bits += "1" * (-len(bits) % 8)
        entropy = int(bits, 2).to_bytes(len(bits) // 8, "big")
        res = J.decode_jpeg_lossless(self._container(16, 2, 1, 1, entropy))
        assert res is not None
        _, _, img, prec = res
        assert prec == 16
        assert img.tolist() == [[0, 0]]  # second sample: Ra + 0

    def test_all_predictors_roundtrip_both_precisions(self):
        import queryengine_spark.multimodal.jpeg as J

        for a in range(14):  # psel = 1 + a % 7 covers all seven twice
            for prec in (8, 16):
                res = J.decode_jpeg_lossless(J.make_jpeg_lossless(a, prec))
                assert res is not None, (a, prec)
                w, h, img, p2 = res
                assert p2 == prec
                exp = np.array(
                    [
                        [J.ll_pixel(a, x, y, prec) for x in range(w)]
                        for y in range(h)
                    ]
                )
                assert (img == exp).all(), (a, prec)

    def test_property_random_images_roundtrip(self):
        """Encoder-independent inverse: random images, every
        predictor, both precisions, through a local encoder that
        reuses only the PUBLIC helpers."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        import queryengine_spark.multimodal.jpeg as J

        @settings(max_examples=40, deadline=None)
        @given(
            st.integers(1, 6),
            st.integers(1, 6),
            st.integers(1, 7),
            st.sampled_from([8, 16]),
            st.randoms(use_true_random=False),
        )
        def run(w, h, psel, prec, rng):
            img = np.array(
                [
                    [rng.randrange(1 << prec) for _ in range(w)]
                    for _ in range(h)
                ],
                dtype=np.int64,
            )
            codes = J._canonical_codes(J.LL_DC_BITS, J.LL_DC_VALS)
            wtr = J._BitWriter()
            for y in range(h):
                for x in range(w):
                    pred = J._ll_predict(img, x, y, psel, prec, 0)
                    d = (int(img[y, x]) - pred) & 0xFFFF
                    if d > 32768:
                        d -= 65536
                    if d == 32768:
                        wtr.put(*codes[16])
                        continue
                    cat = J._category(d)
                    wtr.put(*codes[cat])
                    if cat:
                        wtr.put(d if d > 0 else d + (1 << cat) - 1, cat)
            res = J.decode_jpeg_lossless(
                self._container(prec, w, h, psel, wtr.flush())
            )
            assert res is not None
            assert (res[2] == img).all()

        run()

    def test_refusals(self):
        import queryengine_spark.multimodal.jpeg as J

        good = J.make_jpeg_lossless(3, 8)
        assert J.decode_jpeg_lossless(good) is not None
        # out-of-range reconstruction: cat 8 diff +200 from pred 128
        bits = "01000" + "11001000"
        bits += "1" * (-len(bits) % 8)
        entropy = int(bits, 2).to_bytes(len(bits) // 8, "big")
        assert (
            J.decode_jpeg_lossless(self._container(8, 1, 1, 1, entropy))
            is None
        )
        # DRI, multi-component, bad predictor, Se != 0, Pt >= prec
        e = b"\xff"  # irrelevant once headers refuse
        assert J.decode_jpeg_lossless(
            self._container(8, 1, 1, 1, e, dri=2)
        ) is None
        assert J.decode_jpeg_lossless(
            self._container(8, 1, 1, 1, e, ncomp=3)
        ) is None
        assert J.decode_jpeg_lossless(
            self._container(8, 1, 1, 0, e)
        ) is None
        assert J.decode_jpeg_lossless(
            self._container(8, 1, 1, 8, e)
        ) is None
        assert J.decode_jpeg_lossless(
            self._container(8, 1, 1, 1, e, pt=8)
        ) is None
        # truncated entropy
        assert J.decode_jpeg_lossless(good[: len(good) // 2]) is None
        # DCT paths refuse SOF3 and vice versa
        assert J.decode_jpeg_coeffs(good) is None
        assert J.decode_jpeg_lossless(J.make_jpeg_ac(5)) is None

    def test_fill_bytes_before_markers_tolerated(self):
        """T.81 B.1.1.2 (r10, r9 ADVICE): any number of 0xFF fill
        bytes may precede a marker — DNG-embedded SOF3 streams pad
        with them. Inject fills before every header marker of a good
        stream and require an IDENTICAL decode, in the lossless AND
        baseline walks."""
        import numpy as np

        import queryengine_spark.multimodal.jpeg as J

        def pad_markers(b: bytes, nfill: int) -> bytes:
            # rewrite only the HEADER marker walk (stop at SOS: the
            # entropy segment's own 0xFF bytes must stay untouched)
            out = bytearray(b[:2])
            pos = 2
            while pos + 4 <= len(b):
                assert b[pos] == 0xFF
                out += b"\xff" * nfill
                marker = b[pos + 1]
                seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
                out += b[pos : pos + 2 + seglen]
                pos += 2 + seglen
                if marker == 0xDA:
                    out += b[pos:]  # entropy bytes + EOI verbatim
                    return bytes(out)
            raise AssertionError("no SOS found")

        good = J.make_jpeg_lossless(3, 8)
        want = J.decode_jpeg_lossless(good)
        assert want is not None
        for nfill in (1, 3):
            got = J.decode_jpeg_lossless(pad_markers(good, nfill))
            assert got is not None
            assert np.array_equal(got[1], want[1])
        base = J.make_jpeg_ac(5)
        want_b = J.decode_jpeg_pixels(base)
        got_b = J.decode_jpeg_pixels(pad_markers(base, 2))
        assert want_b is not None and got_b is not None
        assert np.array_equal(got_b, want_b)

    def test_fill_bytes_running_into_eof_refused(self):
        """r10 ADVICE: the fill-byte skip must not outrun the buffer —
        fills right before EOI with nothing after them must return the
        None refusal (the parsers saw no scan), not raise struct.error
        into the Spark task. Pinned on all three segment walks."""
        import queryengine_spark.multimodal.jpeg as J

        probe = b"\xff\xd8\xff\xff\xff\xd9"
        assert J._parse_segments_multi(probe) is None
        assert J._parse_segments_lossless(probe) is None
        assert J._parse_progressive(probe) is None
        # and an all-fill tail with no terminating marker byte at all
        assert J._parse_segments_multi(b"\xff\xd8\xff\xff\xff") is None
        assert J._parse_segments_lossless(b"\xff\xd8\xff\xff\xff") is None

    def test_rgb_entry_serves_8bit_refuses_16bit(self):
        import queryengine_spark.multimodal.jpeg as J

        rgb = J.decode_jpeg_rgb(J.make_jpeg_lossless(4, 8))
        assert rgb is not None and rgb.ndim == 3 and rgb.shape[2] == 3
        assert (rgb[..., 0] == rgb[..., 1]).all()
        assert J.decode_jpeg_rgb(J.make_jpeg_lossless(4, 16)) is None
