"""Property tests (hypothesis) for the hand-rolled codec kernels —
the parts where a single off-by-one survives example tests: LZW
encode/decode inversion over arbitrary byte strings, PNG filter/
unfilter inversion for every filter type, and JPEG DC
category/sign-extension inversion over the full coefficient range."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from queryengine_spark.multimodal.gif import GIF_LZW
from queryengine_spark.multimodal.lzw import lzw_decode, lzw_encode
from queryengine_spark.multimodal.png import _filter_row, _unfilter_row
from queryengine_spark.multimodal.tiff import TIFF_LZW

#: both LZW variants the shared engine serves
LZW_VARIANTS = st.sampled_from([GIF_LZW, TIFF_LZW])


@settings(max_examples=200, deadline=None)
@given(LZW_VARIANTS, st.binary(min_size=0, max_size=2000))
def test_lzw_roundtrip_any_bytes(rules, data):
    assert lzw_decode(lzw_encode(data, 8, rules), 8, rules) == data


@settings(max_examples=100, deadline=None)
@given(
    LZW_VARIANTS,
    st.integers(min_value=0, max_value=3),
    st.binary(min_size=0, max_size=500),
)
def test_lzw_roundtrip_small_alphabet(rules, mcs_shift, raw):
    # min_code_size 2..5 over a clamped alphabet (valid GIF inputs:
    # every index < 2^min_code_size)
    mcs = 2 + mcs_shift
    data = bytes(b % (1 << mcs) for b in raw)
    assert lzw_decode(lzw_encode(data, mcs, rules), mcs, rules) == data


# ---------------------------------------------------------------------------
# Parity oracle: the two per-format LZW engines the shared one replaced
# (GIF's lzw_encode/lzw_decode and TIFF's lzw_tiff_encode/
# lzw_tiff_decode), copied verbatim so the shared engine is pinned
# byte-for-byte against both on arbitrary inputs.


def _old_gif_encode(data: bytes, min_code_size: int = 8) -> bytes:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = 0
    nbits = 0
    dec_len = eoi + 1
    dec_width = min_code_size + 1
    first_after_clear = True

    def emit(code: int) -> None:
        nonlocal acc, nbits, dec_len, dec_width, first_after_clear
        acc |= code << nbits
        nbits += dec_width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            dec_len = eoi + 1
            dec_width = min_code_size + 1
            first_after_clear = True
        elif code != eoi:
            if first_after_clear:
                first_after_clear = False
            elif dec_len < 4096:
                dec_len += 1
                if dec_len >= (1 << dec_width) and dec_width < 12:
                    dec_width += 1

    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    emit(clear)
    cur = -1
    for byte in data:
        if cur < 0:
            cur = byte
            continue
        nc = table.get((cur, byte))
        if nc is not None:
            cur = nc
            continue
        emit(cur)
        if next_code < 4096:
            table[(cur, byte)] = next_code
            next_code += 1
        else:
            emit(clear)
            table.clear()
            next_code = eoi + 1
        cur = byte
    if cur >= 0:
        emit(cur)
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _old_gif_decode(data: bytes, min_code_size: int = 8) -> bytes | None:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    total_bits = len(data) * 8
    pos = 0
    bitbuf = 0
    bitcnt = 0
    bytepos = 0

    def read(width: int) -> int | None:
        nonlocal pos, bitbuf, bitcnt, bytepos
        if pos + width > total_bits:
            return None
        while bitcnt < width:
            bitbuf |= data[bytepos] << bitcnt
            bytepos += 1
            bitcnt += 8
        val = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitcnt -= width
        pos += width
        return val

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    base = [bytes([i]) for i in range(1 << min_code_size)] + [b"", b""]

    def reset() -> None:
        nonlocal table, width, prev
        table = base.copy()
        width = min_code_size + 1
        prev = None

    reset()
    while True:
        code = read(width)
        if code is None:
            return None
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) >= (1 << width) and width < 12:
                width += 1
        prev = entry


def _old_tiff_encode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0
    dec_len = 258
    dec_width = 9
    first_after_clear = True

    def emit(code: int) -> None:
        nonlocal acc, nbits, dec_len, dec_width, first_after_clear
        acc = (acc << dec_width) | code
        nbits += dec_width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1
        if code == 256:
            dec_len = 258
            dec_width = 9
            first_after_clear = True
        elif code != 257:
            if first_after_clear:
                first_after_clear = False
            elif dec_len < 4094:
                dec_len += 1
                if dec_len >= (1 << dec_width) - 1 and dec_width < 12:
                    dec_width += 1

    table: dict[tuple[int, int], int] = {}
    next_code = 258
    emit(256)
    cur = -1
    for byte in data:
        if cur < 0:
            cur = byte
            continue
        nc = table.get((cur, byte))
        if nc is not None:
            cur = nc
            continue
        emit(cur)
        if next_code < 4094:
            table[(cur, byte)] = next_code
            next_code += 1
        else:
            emit(256)
            table.clear()
            next_code = 258
        cur = byte
    if cur >= 0:
        emit(cur)
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _old_tiff_decode(data: bytes) -> bytes | None:
    pos = 0
    total = len(data) * 8
    bitbuf = 0
    bitcnt = 0
    bytepos = 0

    def read(width: int) -> int | None:
        nonlocal pos, bitbuf, bitcnt, bytepos
        if pos + width > total:
            return None
        while bitcnt < width:
            bitbuf = (bitbuf << 8) | data[bytepos]
            bytepos += 1
            bitcnt += 8
        bitcnt -= width
        val = bitbuf >> bitcnt
        bitbuf &= (1 << bitcnt) - 1
        pos += width
        return val

    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    base = [bytes([i]) for i in range(256)] + [b"", b""]

    def reset() -> None:
        nonlocal table, width, prev
        table = base.copy()
        width = 9
        prev = None

    reset()
    while True:
        code = read(width)
        if code is None:
            return None
        if code == 256:
            reset()
            continue
        if code == 257:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and len(table) < 4094:
            table.append(prev + entry[:1])
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
        prev = entry


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=6),
    st.binary(min_size=0, max_size=3000),
    st.binary(min_size=0, max_size=64),
)
def test_lzw_shared_engine_matches_per_format_engines(mcs_shift, raw, junk):
    """Byte-identical encodes and identical decodes (incl. None on
    truncated or junk streams) against the replaced GIF and TIFF
    engines."""
    mcs = 2 + mcs_shift
    gif_data = bytes(b % (1 << mcs) for b in raw)
    enc = lzw_encode(gif_data, mcs, GIF_LZW)
    assert enc == _old_gif_encode(gif_data, mcs)
    for stream in (enc, enc[: len(enc) // 2], junk):
        assert lzw_decode(stream, mcs, GIF_LZW) == _old_gif_decode(stream, mcs)
    enc = lzw_encode(raw, 8, TIFF_LZW)
    assert enc == _old_tiff_encode(raw)
    for stream in (enc, enc[: len(enc) // 2], junk):
        assert lzw_decode(stream, 8, TIFF_LZW) == _old_tiff_decode(stream)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=1, max_value=16),
    st.data(),
)
def test_png_filter_roundtrip(ftype, width_px, data):
    n = width_px * 4
    raw = bytes(data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)))
    prev = bytes(data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)))
    assert _unfilter_row(ftype, _filter_row(ftype, raw, prev), prev) == raw


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-255, max_value=255))
def test_jpeg_dc_category_sign_extension_roundtrip(diff):
    # encoder side (multimodal/jpeg.py make_jpeg_dc inlines this)
    from queryengine_spark.multimodal.jpeg import _category

    cat = _category(diff)
    assert 0 <= cat <= 8
    if cat == 0:
        assert diff == 0
        return
    bits = diff if diff >= 0 else diff + (1 << cat) - 1
    assert 0 <= bits < (1 << cat)
    # decoder side (decode_jpeg_dc inlines this)
    back = bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1
    assert back == diff


# --- r5 decoder breadth: 8-bit paletted BMP, 24-bit PCM WAV ----------------


@given(
    st.integers(2, 12),
    st.integers(1, 6),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_bmp8_palette_roundtrip(w, h, data):
    """Arbitrary palette + index rows survive the 8-bit container:
    decode(make) == palette[idx], exercising stride padding and the
    bottom-up flip with non-formula content."""
    import numpy as np

    from queryengine_spark.multimodal.bmp import decode_bmp, make_bmp8_paletted

    n_colors = data.draw(st.integers(2, 256))
    palette = [
        (data.draw(st.integers(0, 255)), data.draw(st.integers(0, 255)),
         data.draw(st.integers(0, 255)))
        for _ in range(n_colors)
    ]
    idx_rows = [
        [data.draw(st.integers(0, n_colors - 1)) for _ in range(w)]
        for _ in range(h)
    ]
    img = decode_bmp(make_bmp8_paletted(w, h, palette, idx_rows))
    assert img is not None and img.shape == (h, w, 3)
    exp = np.array([[palette[j] for j in row] for row in idx_rows], dtype=np.uint8)
    assert (img == exp).all()


@given(st.lists(st.integers(-(1 << 23), (1 << 23) - 1), max_size=33))
@settings(max_examples=60, deadline=None)
def test_wav24_roundtrip(samples):
    """Random int24 samples survive pack → container → RIFF walk →
    sign extension, including odd byte counts (word-alignment pad)."""
    from queryengine_spark.multimodal.wav import (
        _wav_container,
        decode_pcm_wav,
        pack_int24,
    )

    dec = decode_pcm_wav(_wav_container(16000, 24, pack_int24(samples)))
    assert dec is not None
    rate, got = dec
    assert rate == 16000 and list(got) == samples


def test_bmp8_hand_vector():
    """Hand-laid 2x2 8-bit BMP: explicit header bytes, 2-entry
    palette, bottom-up index rows with stride padding — decoded
    against hand-derived RGB (so a builder/decoder bug pair cannot
    cancel)."""
    import struct

    import numpy as np

    from queryengine_spark.multimodal.bmp import decode_bmp

    # palette: entry 0 = red (stored BGRX 00 00 FF 00),
    #          entry 1 = blue (stored FF 00 00 00)
    pal = bytes([0x00, 0x00, 0xFF, 0x00, 0xFF, 0x00, 0x00, 0x00])
    # image (top-down logical): row0 = [0, 1], row1 = [1, 0]
    # stored bottom-up, stride 4: row1 first
    pix = bytes([1, 0, 0, 0]) + bytes([0, 1, 0, 0])
    off = 14 + 40 + 8
    hdr = struct.pack("<2sIHHI", b"BM", off + len(pix), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, len(pix), 0, 0, 2, 0)
    img = decode_bmp(hdr + info + pal + pix)
    assert img is not None
    exp = np.array(
        [[[255, 0, 0], [0, 0, 255]], [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8
    )
    assert (img == exp).all()


def test_wav24_hand_vector():
    """Hand-packed 24-bit samples: +1 = 01 00 00, -1 = FF FF FF,
    -8388608 = 00 00 80 (sign bit), 8388607 = FF FF 7F."""
    from queryengine_spark.multimodal.wav import _wav_container, decode_pcm_wav

    data = bytes(
        [0x01, 0x00, 0x00, 0xFF, 0xFF, 0xFF, 0x00, 0x00, 0x80, 0xFF, 0xFF, 0x7F]
    )
    dec = decode_pcm_wav(_wav_container(8000, 24, data))
    assert dec is not None
    rate, got = dec
    assert rate == 8000 and list(got) == [1, -1, -8388608, 8388607]


def test_bmp8_out_of_range_index_refused():
    from queryengine_spark.multimodal.bmp import decode_bmp, make_bmp8_paletted

    b = bytearray(make_bmp8_paletted(2, 1, [(1, 2, 3), (4, 5, 6)], [[0, 1]]))
    # second PIXEL byte (not the stride padding, which is ignored):
    # pixel rows start at the declared data offset 14 + 40 + 4*2
    b[14 + 40 + 8 + 1] = 7  # index past the declared 2-color palette
    assert decode_bmp(bytes(b)) is None


def test_wav_stereo_interleave_hand_vector():
    """r5 stereo: L0 R0 L1 R1 frames come back as the interleaved
    flat stream; blockAlign/byteRate declare 2 channels."""
    import struct

    from queryengine_spark.multimodal.wav import decode_pcm_wav

    data = struct.pack("<hhhh", 100, -200, 300, -32768)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    dec = decode_pcm_wav(wav)
    assert dec is not None
    rate, got = dec
    assert rate == 8000 and list(got) == [100, -200, 300, -32768]


def test_wav_stereo_formula_assets():
    from queryengine_spark.multimodal.wav import (
        _sample_st,
        decode_pcm_wav,
        make_pcm_wav_stereo,
        wav_audio_params,
    )

    for aid in (2, 6, 42):
        dec = decode_pcm_wav(make_pcm_wav_stereo(aid))
        assert dec is not None
        rate, got = dec
        want_rate, n = wav_audio_params(aid)
        assert rate == want_rate and len(got) == 2 * n
        want = [
            _sample_st(aid, i, ch) for i in range(n) for ch in (0, 1)
        ]
        assert list(got) == want


def test_wav_multichannel_formula_assets():
    """r6: the channel gate widened from {1,2} to 1..8 — six-channel
    (5.1) frames decode to the interleaved flat stream with channel
    c's formula offset c·STEREO_OFF."""
    from queryengine_spark.multimodal.wav import (
        _sample_st,
        decode_pcm_wav,
        make_pcm_wav_multi,
        wav_audio_params,
    )

    for aid in (6, 14, 46):
        dec = decode_pcm_wav(make_pcm_wav_multi(aid, 6))
        assert dec is not None
        rate, got = dec
        want_rate, n = wav_audio_params(aid)
        assert rate == want_rate and len(got) == 6 * n
        want = [
            _sample_st(aid, i, ch) for i in range(n) for ch in range(6)
        ]
        assert list(got) == want


def test_wav_channel_count_limits():
    """What remains refused is malformed (0 channels) or outside the
    practical range (9+)."""
    import struct

    from queryengine_spark.multimodal.wav import decode_pcm_wav

    def wav_with_channels(nch):
        fmt = struct.pack("<HHIIHH", 1, nch, 8000, 8000 * 2 * max(nch, 1), 2 * max(nch, 1), 16)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", 16) + b"\x00" * 16
        return b"RIFF" + struct.pack("<I", len(body)) + body

    assert decode_pcm_wav(wav_with_channels(0)) is None
    assert decode_pcm_wav(wav_with_channels(9)) is None
    assert decode_pcm_wav(wav_with_channels(3)) is not None  # r6: accepted
    assert decode_pcm_wav(wav_with_channels(8)) is not None


def test_bmp_rle8_formula_assets():
    """r6: BI_RLE8 assets decompress pixel-exactly to the row-parity
    index formula — odd rows arrive as encoded-mode runs, even rows
    as word-aligned absolute segments."""
    from queryengine_spark.multimodal.bmp import (
        bmp8_index_rle,
        bmp8_palette,
        bmp_params,
        decode_bmp,
        make_bmp8_rle,
    )

    for aid in (3, 7, 19, 43):
        img = decode_bmp(make_bmp8_rle(aid))
        assert img is not None, aid
        w, h = bmp_params(aid)
        assert img.shape == (h, w, 3)
        for y in range(h):
            for x in range(w):
                want = bmp8_palette(aid, bmp8_index_rle(aid, x, y))
                assert tuple(img[y, x]) == want, (aid, x, y)


def test_bmp_rle8_delta_and_skipped_pixels():
    """Hand-assembled stream: encoded run, a [0,2,dx,dy] delta jump,
    and end-of-bitmap — pixels the cursor skips decode as index 0
    (the real-decoder convention for undefined RLE pixels)."""
    from queryengine_spark.multimodal.bmp import _decode_rle8

    # run1 idx5 at stored (0,0) → delta (0,+1) → run1 idx7 → EOB
    data = bytes([1, 5, 0, 2, 0, 1, 1, 7, 0, 1])
    idx = _decode_rle8(data, 2, 2)
    assert idx is not None
    assert idx[0, 0] == 5 and idx[1, 1] == 7
    assert idx[0, 1] == 0 and idx[1, 0] == 0
    # absolute mode with odd count carries a word-alignment pad byte;
    # two rows of three literals each, EOL between, EOB at the end
    data = bytes([0, 3, 9, 8, 7, 0, 0, 0, 0, 3, 2, 4, 0, 0, 0, 1])
    idx = _decode_rle8(data, 3, 2)
    assert idx is not None
    assert list(idx[0]) == [9, 8, 7] and list(idx[1]) == [2, 4, 0]


def test_bmp_rle8_refusals():
    from queryengine_spark.multimodal.bmp import (
        _decode_rle8,
        decode_bmp,
        make_bmp8_rle,
    )
    import struct as _s

    good = make_bmp8_rle(3)
    assert decode_bmp(good) is not None
    # truncated: no end-of-bitmap
    assert _decode_rle8(bytes([1, 5, 0, 0]), 2, 2) is None
    # encoded run crossing the row end
    assert _decode_rle8(bytes([3, 5, 0, 1]), 2, 2) is None
    # top-down (negative height) RLE is forbidden by the spec
    w, h = _s.unpack("<ii", good[18:26])
    bad = good[:22] + _s.pack("<i", -h) + good[26:]
    assert decode_bmp(bad) is None
    # RLE with 24bpp is not a thing
    bad = good[:28] + _s.pack("<H", 24) + good[30:]
    assert decode_bmp(bad) is None


# ------------------------------------------------------ µ-law / float32 (r6)


def test_ulaw_endpoint_pins():
    """G.711 canonical endpoints: 0xFF is +0, 0x7F is −0, 0x00 is
    −32124, 0x80 is +32124."""
    from queryengine_spark.multimodal.wav import ulaw2linear

    assert ulaw2linear(0xFF) == 0
    assert ulaw2linear(0x7F) == 0
    assert ulaw2linear(0x00) == -32124
    assert ulaw2linear(0x80) == 32124


def test_ulaw_all_bytes_vs_independent_formulation():
    """All 256 codes vs the algebraic variant 4·(2m+33)·2^e − 132 and
    the sign-symmetry property decode(u) == −decode(u ^ 0x80)."""
    from queryengine_spark.multimodal.wav import ulaw2linear

    for u in range(256):
        c = ~u & 0xFF
        e, m = (c >> 4) & 7, c & 15
        mag = 4 * (2 * m + 33) * (1 << e) - 132
        assert ulaw2linear(u) == (-mag if c & 0x80 else mag), u
        assert ulaw2linear(u) == -ulaw2linear(u ^ 0x80), u


def test_ulaw_wav_decode_matches_table():
    import numpy as np

    from queryengine_spark.multimodal.wav import (
        _wav_container,
        decode_pcm_wav,
        ulaw2linear,
    )

    data = bytes(range(256))
    rate, s = decode_pcm_wav(_wav_container(8000, 8, data, fmt_tag=7))
    assert rate == 8000 and len(s) == 256
    assert s.tolist() == [ulaw2linear(u) for u in range(256)]


def test_alaw_endpoint_pins():
    """G.711 A-law canonical endpoints (r11): 0xD5 is +8 (the A-law
    'zero' — A-law has no true 0), 0x55 is −8, 0xAA is +32256,
    0x2A is −32256; sign bit SET means POSITIVE."""
    from queryengine_spark.multimodal.wav import alaw2linear

    assert alaw2linear(0xD5) == 8
    assert alaw2linear(0x55) == -8
    assert alaw2linear(0xAA) == 32256
    assert alaw2linear(0x2A) == -32256


def test_alaw_all_bytes_vs_independent_formulation():
    """All 256 codes vs the algebraic variant and the sign-symmetry
    property decode(a) == −decode(a ^ 0x80); magnitudes are even,
    in [8, 32256], and monotone within a sign."""
    from queryengine_spark.multimodal.wav import alaw2linear

    for a in range(256):
        v = a ^ 0x55
        seg, m = (v >> 4) & 7, v & 15
        mag = (m * 16 + 8) if seg == 0 else (m * 16 + 264) << (seg - 1)
        assert alaw2linear(a) == (mag if v & 0x80 else -mag), a
        assert alaw2linear(a) == -alaw2linear(a ^ 0x80), a
        assert 8 <= mag <= 32256 and mag % 2 == 0


def test_alaw_wav_decode_matches_table():
    import numpy as np  # noqa: F401

    from queryengine_spark.multimodal.wav import (
        _wav_container,
        alaw2linear,
        decode_pcm_wav,
    )

    data = bytes(range(256))
    rate, s = decode_pcm_wav(_wav_container(8000, 8, data, fmt_tag=6))
    assert rate == 8000 and len(s) == 256
    assert s.tolist() == [alaw2linear(a) for a in range(256)]


def test_alaw_corpus_slot_roundtrip():
    """The %16==11 mixed-corpus leg: synthesized A-law WAV decodes to
    the byte formula expanded through alaw2linear."""
    from queryengine_spark.multimodal.wav import (
        _alaw_byte,
        alaw2linear,
        decode_pcm_wav,
        make_pcm_wav_alaw,
        wav_audio_params,
    )

    for a in (11, 27, 43):
        rate, s = decode_pcm_wav(make_pcm_wav_alaw(a))
        want_rate, n = wav_audio_params(a)
        assert rate == want_rate and len(s) == n
        assert s.tolist() == [alaw2linear(_alaw_byte(a, i)) for i in range(n)]


def test_float_wav_renders_and_clamps():
    """IEEE-float WAV → PCM16 render: floor(f·32768) with clamping at
    the int16 rails (1.5 → 32767, −2.0 → −32768, 0.5 → 16384,
    tiny negatives floor DOWN: −1/65536 → −1)."""
    import struct

    from queryengine_spark.multimodal.wav import _wav_container, decode_pcm_wav

    fs = [0.0, 0.5, -0.5, 1.5, -2.0, -1.0 / 65536.0]
    data = b"".join(struct.pack("<f", f) for f in fs)
    rate, s = decode_pcm_wav(_wav_container(44100, 32, data, fmt_tag=3))
    assert rate == 44100
    assert s.tolist() == [0, 16384, -16384, 32767, -32768, -1]


def test_wav_format_bits_gates():
    """Format/bits mismatches refuse: µ-law must be 8-bit, float
    32-bit, PCM 16/24; unknown format tags refuse outright."""
    from queryengine_spark.multimodal.wav import _wav_container, decode_pcm_wav

    assert decode_pcm_wav(_wav_container(8000, 16, b"\0\0", fmt_tag=7)) is None
    assert decode_pcm_wav(_wav_container(8000, 16, b"\0\0", fmt_tag=3)) is None
    assert decode_pcm_wav(_wav_container(8000, 32, b"\0" * 4, fmt_tag=1)) is None
    assert decode_pcm_wav(_wav_container(8000, 16, b"\0\0", fmt_tag=2)) is None
    assert decode_pcm_wav(_wav_container(8000, 8, b"\0", fmt_tag=7)) is not None


# --- r9: IMA/DVI ADPCM (WAV format tag 0x11) --------------------------------


def test_adpcm_hand_vector():
    """Single hand-built block decoded against a BY-HAND expansion of
    the IMA shift ladder — no encoder in the loop. Header: pred=100,
    index=4 (step 11). Nibbles 0x3 then 0x9 packed as one byte
    0x93: n1=3 -> diff = 11/8 + 11/2 + 11/4 = 1+5+2 = 8, pred 108,
    idx 4-1=3 (step 10); n2=9 -> diff = 10/8 + 10/4 = 1+2 = 3,
    pred 105, idx 3-1=2."""
    import struct

    import numpy as np

    from queryengine_spark.multimodal.wav import decode_adpcm_wav

    balign = 5  # 4-byte header + 1 nibble byte -> spb = 3
    block = struct.pack("<hBB", 100, 4, 0) + bytes([0x93])
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, balign, 4, 2, 3)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", 4) + struct.pack("<I", 3)
        + b"data" + struct.pack("<I", len(block)) + block
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    res = decode_adpcm_wav(wav)
    assert res is not None
    rate, dec = res
    assert rate == 8000
    assert dec.tolist() == [100, 108, 105]


def test_adpcm_clamping_hand_vector():
    """Predictor clamps to int16 and the index to [0, 88]: start at
    pred=32000, idx=88 (step 32767), nibble 0x7 -> diff = 32767/8 +
    32767/2 + 32767/4 = 4095+16383+8191 = 28669 -> 60669 clamps at
    32767; idx 88+8 clamps to 88. Second nibble 0xF adds the full
    step too (bit 4): diff = 28669 + 32767 = 61436, subtracted ->
    32767 - 61436 = -28669 (in range); idx stays 88."""
    import struct

    from queryengine_spark.multimodal.wav import decode_adpcm_wav

    block = struct.pack("<hBB", 32000, 88, 0) + bytes([0xF7])
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, 5, 4, 2, 3)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", 4) + struct.pack("<I", 3)
        + b"data" + struct.pack("<I", len(block)) + block
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    res = decode_adpcm_wav(wav)
    assert res is not None
    assert res[1].tolist() == [32000, 32767, -28669]


def test_adpcm_synthesis_roundtrip_tracks_source():
    import numpy as np

    from queryengine_spark.multimodal.wav import (
        ADPCM_BLOCK_ALIGN,
        _sample,
        decode_adpcm_wav,
        make_wav_adpcm,
        wav_audio_params,
    )

    spb = (ADPCM_BLOCK_ALIGN - 4) * 2 + 1
    for a in range(24):
        rate, n = wav_audio_params(a)
        res = decode_adpcm_wav(make_wav_adpcm(a))
        assert res is not None
        r2, dec = res
        assert (r2, len(dec)) == (rate, n)
        src = np.array([_sample(a, i) for i in range(n)])
        for b0 in range(0, n, spb):  # block-leading samples verbatim
            assert dec[b0] == src[b0]
        # the encoder tracks the decoder's reconstruction, so error
        # stays within one quantization ladder of the running step
        assert int(np.abs(dec - src).max()) <= 16


def test_adpcm_refusals():
    import struct

    from queryengine_spark.multimodal.wav import (
        decode_adpcm_wav,
        decode_pcm_wav,
        make_wav_adpcm,
    )

    good = make_wav_adpcm(7)
    assert decode_adpcm_wav(good) is not None
    # the plain-PCM decoder refuses format 0x11 rather than misread
    assert decode_pcm_wav(good) is None

    def wav(fmt_fields, fact, data):
        fmt = struct.pack("<HHIIHHHH", *fmt_fields)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", 4) + struct.pack("<I", fact)
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    blk = struct.pack("<hBB", 0, 0, 0) + bytes([0x00])
    ok = (0x11, 1, 8000, 8000, 5, 4, 2, 3)
    assert decode_adpcm_wav(wav(ok, 3, blk)) is not None
    # stereo refused (no guessed de-interleave)
    assert decode_adpcm_wav(wav((0x11, 2, 8000, 8000, 5, 4, 2, 3), 3, blk)) is None
    # samples-per-block inconsistent with block align
    assert decode_adpcm_wav(wav((0x11, 1, 8000, 8000, 5, 4, 2, 7), 3, blk)) is None
    # step index beyond the table
    bad_idx = struct.pack("<hBB", 0, 89, 0) + bytes([0x00])
    assert decode_adpcm_wav(wav(ok, 3, bad_idx)) is None
    # nonzero reserved header byte
    bad_res = struct.pack("<hBB", 0, 0, 1) + bytes([0x00])
    assert decode_adpcm_wav(wav(ok, 3, bad_res)) is None
    # fact outside the final block (too small / too large)
    assert decode_adpcm_wav(wav(ok, 0, blk)) is None
    assert decode_adpcm_wav(wav(ok, 4, blk)) is None
    # data not a whole number of blocks
    assert decode_adpcm_wav(wav(ok, 3, blk + b"\x00")) is None


# ---------------------------------------------------------------------------
# r11 second-session decoders
# ---------------------------------------------------------------------------


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=4000))
def test_snappy_roundtrip_any_bytes(data):
    """From-scratch snappy decode vs pyarrow's real encoder on
    arbitrary bytes."""
    import pyarrow as pa

    from queryengine_spark.sources.avro import snappy_decompress

    if not pa.Codec.is_available("snappy"):
        return
    enc = bytes(pa.Codec("snappy").compress(data))
    assert snappy_decompress(enc) == data


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=600), min_size=1, max_size=4),
    st.lists(st.integers(min_value=0, max_value=2), min_size=0, max_size=3),
)
def test_zstd_multiframe_roundtrip(chunks, skips):
    """Arbitrary frame concatenations with skippable frames sprinkled
    anywhere decode to the concatenated content."""
    import pyarrow as pa

    from queryengine_spark.sources.zstd import decompress_zstd

    if not pa.Codec.is_available("zstd"):
        return
    zc = pa.Codec("zstd", compression_level=3)
    stream = bytearray()
    for i, c in enumerate(chunks):
        for k in skips:
            if (i + k) % 2 == 0:
                sk = bytes([0x50 + k]) + b"\x2a\x4d\x18"
                sk += (k * 3).to_bytes(4, "little") + b"x" * (k * 3)
                stream += sk
        stream += bytes(zc.compress(c))
    assert decompress_zstd(bytes(stream)) == b"".join(chunks)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(1 << 62), max_value=1 << 62),
            st.text(
                alphabet=st.characters(codec="utf-8"),
                min_size=0,
                max_size=300,
            ),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.binary(min_size=0, max_size=200),
        ),
        min_size=0,
        max_size=12,
    )
)
def test_sqlite_roundtrip_arbitrary_rows(rows):
    """From-scratch SQLite page walk vs the REAL stdlib engine on
    arbitrary values (incl. negative ints, unicode text, NaN-free
    floats, empty blobs, and enough rows to split pages)."""
    import sqlite3

    from queryengine_spark.sources.sqlitefile import parse_sqlite_table

    con = sqlite3.connect(":memory:")
    con.execute("PRAGMA page_size=512")
    con.execute(
        "CREATE TABLE docs (rid INTEGER PRIMARY KEY, a INTEGER,"
        " b TEXT, c REAL, d BLOB)"
    )
    for i, (a, b, c, d) in enumerate(rows):
        con.execute(
            "INSERT INTO docs VALUES (?,?,?,?,?)", (i + 1, a, b, c, d)
        )
    con.commit()
    buf = bytes(con.serialize())
    con.close()
    got = parse_sqlite_table(buf)
    assert got == [
        [i + 1, a, b, c, d] for i, (a, b, c, d) in enumerate(rows)
    ]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
             min_size=0, max_size=8),
    st.binary(min_size=0, max_size=200),
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32),
             min_size=0, max_size=6),
)
def test_tfexample_wire_roundtrip(ints, blob, floats):
    """Hand protobuf encode → from-scratch wire walk on arbitrary
    int64 (full signed range), bytes, and float32 features."""
    from queryengine_spark.sources.tfrecord import (
        _feature_bytes,
        _feature_float,
        _feature_int64,
        _pb_len,
        parse_example,
    )

    feats = b""
    for key, feat in (
        (b"ii", _feature_int64(ints)),
        (b"bb", _feature_bytes([blob])),
        (b"ff", _feature_float(floats)),
    ):
        entry = _pb_len(1, key) + _pb_len(2, feat)
        feats += _pb_len(1, entry)
    ex = parse_example(_pb_len(1, feats))
    assert ex["ii"] == ("int64", ints)
    assert ex["bb"] == ("bytes", [blob])
    kind, vals = ex["ff"]
    assert kind == "float" and len(vals) == len(floats)
    import struct as _s

    for got, want in zip(vals, floats):
        assert _s.pack("<f", got) == _s.pack("<f", want)
