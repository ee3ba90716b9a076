"""WAV audio family, split out of ``multimodal/bmp.py`` in round 10
(file-naming hygiene; zero behavior change — the public names are
re-exported from ``bmp`` for compatibility).

Same correctness story as the image codecs: waveforms are synthesized
from arithmetic sample formulas of (asset_id, i), containers are
assembled byte-for-byte (RIFF/WAVE chunk layout, word alignment,
extended fmt + fact chunks for ADPCM), and decoders re-derive the
samples from the BYTES while the DuckDB oracle re-derives them from
the FORMULAS — a hash match certifies the container walk and every
codec's arithmetic (PCM 16/24, IEEE float render, G.711 µ-law
expansion, IMA-ADPCM step-table reconstruction).

Reference scope note: the reference engine (rickbeeloo/QueryEngine,
src/heurFuzz.py) has no media code; the audio family is part of the
multimodal pillar this repo adds beyond the reference.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from queryengine_spark.multimodal.bmp import BMP_ASSET_SCHEMA
from queryengine_spark.plans import map_rows

# ---------------------------------------------------------------- WAV (audio)

#: deterministic waveform parameters (mirrored in the oracle SQL)
WAV_N_MOD = 300
WAV_A_MULT, WAV_I_MULT, WAV_S_MOD = 31, 17, 65536


def wav_audio_params(asset_id: int) -> tuple[int, int]:
    """(sample_rate, n_samples) — mono 16-bit."""
    return 8000 + 1000 * (asset_id % 4), 64 + asset_id % WAV_N_MOD


def _sample(asset_id: int, i: int) -> int:
    """int16 PCM sample i of the synthetic waveform — the formula the
    oracle re-computes symbolically."""
    return (asset_id * WAV_A_MULT + i * WAV_I_MULT) % WAV_S_MOD - 32768


def make_pcm_wav(asset_id: int) -> bytes:
    """Complete mono 16-bit PCM WAV with deterministic samples."""
    rate, n = wav_audio_params(asset_id)
    data = b"".join(
        struct.pack("<h", _sample(asset_id, i)) for i in range(n)
    )
    return _wav_container(rate, 16, data)


def _wav_container(rate: int, bits: int, data: bytes, fmt_tag: int = 1) -> bytes:
    width = bits // 8
    fmt = struct.pack("<HHIIHH", fmt_tag, 1, rate, rate * width, width, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:  # RIFF chunks are word-aligned
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


#: µ-law byte-stream formula constants (mirrored in the oracle)
ULAW_A_MULT, ULAW_I_MULT = 37, 11
ULAW_BIAS = 0x84


def _ulaw_byte(asset_id: int, i: int) -> int:
    return (asset_id * ULAW_A_MULT + i * ULAW_I_MULT) % 256


def ulaw2linear(u: int) -> int:
    """G.711 µ-law expansion (the CCITT table as arithmetic): the
    byte is stored complemented; sign / 3-bit exponent / 4-bit
    mantissa expand to ((m·8 + 132) << e) − 132, negated on sign.
    0xFF → +0, 0x7F → −0, 0x00 → −32124."""
    u = ~u & 0xFF
    sign = u & 0x80
    mag = (((u & 0x0F) << 3) + ULAW_BIAS) << ((u >> 4) & 0x07)
    mag -= ULAW_BIAS
    return -mag if sign else mag


def make_pcm_wav_ulaw(asset_id: int) -> bytes:
    """Complete mono G.711 µ-LAW WAV (format tag 7, 8 bits/sample —
    the telephony/callcenter-corpus profile, r6). The data bytes
    follow the _ulaw_byte formula directly, so the oracle expands
    them with the same G.711 arithmetic without round-tripping an
    encoder."""
    rate, n = wav_audio_params(asset_id)
    data = bytes(_ulaw_byte(asset_id, i) for i in range(n))
    return _wav_container(rate, 8, data, fmt_tag=7)


#: A-law byte-stream formula constants (mirrored in the oracle)
ALAW_A_MULT, ALAW_I_MULT = 41, 13


def _alaw_byte(asset_id: int, i: int) -> int:
    return (asset_id * ALAW_A_MULT + i * ALAW_I_MULT) % 256


def alaw2linear(a: int) -> int:
    """G.711 A-law expansion (the CCITT table as arithmetic, r11 —
    the European telephony twin of µ-law): the byte is stored XORed
    with 0x55; sign (bit 7 SET = positive) / 3-bit segment / 4-bit
    mantissa expand to (m·16 + 8) for segment 0 else
    (m·16 + 0x108) << (seg − 1). Range ±8 … ±32256."""
    a ^= 0x55
    mant = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    if seg == 0:
        t = mant + 8
    else:
        t = (mant + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


def make_pcm_wav_alaw(asset_id: int) -> bytes:
    """Complete mono G.711 A-LAW WAV (format tag 6, 8 bits/sample —
    the European/international telephony profile, r11; completes the
    G.711 pair beside the r6 µ-law leg). The data bytes follow the
    _alaw_byte formula directly, so the oracle expands them with the
    same A-law arithmetic without round-tripping an encoder."""
    rate, n = wav_audio_params(asset_id)
    data = bytes(_alaw_byte(asset_id, i) for i in range(n))
    return _wav_container(rate, 8, data, fmt_tag=6)


def make_pcm_wav_f32(asset_id: int) -> bytes:
    """Complete mono IEEE-FLOAT WAV (format tag 3, 32 bits — the DAW
    /ML-dataset interchange profile, r6). Samples are the mono-16
    formula divided by 32768: exactly representable in float32
    (integer magnitude < 2^16, division by a power of two), so the
    decoder's float→PCM16 conversion floor(f·32768) reproduces the
    integer formula bit-exactly and the oracle stays in BIGINT."""
    rate, n = wav_audio_params(asset_id)
    data = b"".join(
        struct.pack("<f", _sample(asset_id, i) / 32768.0) for i in range(n)
    )
    return _wav_container(rate, 32, data, fmt_tag=3)


#: 24-bit waveform formula constants (mirrored in the oracle)
WAV24_A_MULT, WAV24_I_MULT = 7919, 104729
WAV24_MOD, WAV24_HALF = 1 << 24, 1 << 23


def _sample24(asset_id: int, i: int) -> int:
    """int24 PCM sample i of the synthetic waveform — full 24-bit
    signed range, the formula the oracle recomputes symbolically."""
    return (asset_id * WAV24_A_MULT + i * WAV24_I_MULT) % WAV24_MOD - WAV24_HALF


def pack_int24(samples: list[int]) -> bytes:
    """Little-endian signed 24-bit packing (3 bytes per sample)."""
    out = bytearray()
    for s in samples:
        u = s & 0xFFFFFF
        out += bytes((u & 0xFF, (u >> 8) & 0xFF, (u >> 16) & 0xFF))
    return bytes(out)


#: stereo right-channel offset constant (mirrored in the oracle)
STEREO_OFF = 12347


def _sample_st(asset_id: int, i: int, ch: int) -> int:
    return (
        asset_id * WAV_A_MULT + i * WAV_I_MULT + ch * STEREO_OFF
    ) % WAV_S_MOD - 32768


def make_pcm_wav_multi(asset_id: int, nch: int) -> bytes:
    """Complete nch-channel 16-bit PCM WAV: channel-interleaved
    frames (c0 c1 … c{nch-1} per frame), blockAlign 2·nch, channel
    c's formula offset by c·STEREO_OFF. nch=2 is the r5 stereo leg;
    nch=6 is the r6 5.1-layout leg."""
    rate, n = wav_audio_params(asset_id)
    data = b"".join(
        struct.pack(f"<{nch}h", *(_sample_st(asset_id, i, c) for c in range(nch)))
        for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * 2 * nch, 2 * nch, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_pcm_wav_stereo(asset_id: int) -> bytes:
    """Complete STEREO 16-bit PCM WAV (r5): channel-interleaved
    L0 R0 L1 R1 … frames, blockAlign 4, the formula offset by
    STEREO_OFF on the right channel."""
    return make_pcm_wav_multi(asset_id, 2)


def make_pcm_wav24(asset_id: int) -> bytes:
    """Complete mono 24-bit PCM WAV with deterministic samples (r5
    decoder-breadth extension; note an ODD byte count when n_samples
    is odd — the container pads the RIFF chunk, exercising the
    word-alignment path the 16-bit twin never hits)."""
    rate, n = wav_audio_params(asset_id)
    return _wav_container(rate, 24, pack_int24([_sample24(asset_id, i) for i in range(n)]))


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (WAV format tag 0x11) — r9
# ---------------------------------------------------------------------------
# The classic 4-bit compressed-PCM codec (IMA "Recommended Practices
# for Enhancing Digital Audio Compatibility", the DVI ADPCM of
# RFC 3551 §4.5.1): each block is independently decodable — a 4-byte
# header carrying the initial predictor (an int16 PCM sample) and
# step-table index, then two 4-bit nibbles per byte (low first),
# each expanding through the 89-entry step table with predictor
# clamping. The corpus leg flips in round 10 (rotation budget); the
# codec + pins land here.

IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)

#: block size of the synthesized ADPCM legs (bytes; mono)
ADPCM_BLOCK_ALIGN = 256


def _ima_step(nibble: int, pred: int, idx: int) -> tuple[int, int]:
    """Expand one 4-bit code: (new predictor, new step index). The
    diff reconstruction uses the shift ladder (step/8 + optional
    step, step/2, step/4), predictor clamps to int16, index to
    [0, 88]."""
    step = IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_TABLE[nibble & 7]))
    return pred, idx


def _ima_encode(
    samples: list[int], block_align: int = ADPCM_BLOCK_ALIGN
) -> tuple[bytes, int]:
    """Encode int16 samples into ADPCM blocks of ``block_align``
    bytes (mono). The first sample of each block rides verbatim in
    the block header; the encoder tracks the DECODER's reconstruction
    so drift cannot accumulate. Returns (blocks, samples_per_block)."""
    spb = (block_align - 4) * 2 + 1
    out = bytearray()
    idx = 0
    for b0 in range(0, len(samples), spb):
        block = samples[b0 : b0 + spb]
        pred = block[0]
        out += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for s in block[1:]:
            step = IMA_STEP_TABLE[idx]
            delta = s - pred
            code = 8 if delta < 0 else 0
            delta = abs(delta)
            if delta >= step:
                code |= 4
                delta -= step
            if delta >= step >> 1:
                code |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                code |= 1
            nibbles.append(code)
            pred, idx = _ima_step(code, pred, idx)
        while len(nibbles) < spb - 1:  # pad the final partial block
            nibbles.append(0 if pred <= 0 else 8)  # step toward 0
            pred, idx = _ima_step(nibbles[-1], pred, idx)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out), spb


def make_wav_adpcm(
    asset_id: int, block_align: int = ADPCM_BLOCK_ALIGN
) -> bytes:
    """Complete mono IMA-ADPCM WAV (format tag 0x11): the mono-16
    sample formula encoded block-at-a-time, the extended fmt chunk
    (cbSize=2, wSamplesPerBlock), and the MANDATORY ``fact`` chunk
    carrying the true sample count (how a decoder truncates the final
    block's padding). ``block_align`` parameterized in r10 so the
    corpus leg (queries/addenda.py::multimodal_wav_adpcm, align 64)
    exercises MULTI-block streams at the synthetic sample counts."""
    rate, n = wav_audio_params(asset_id)
    samples = [_sample(asset_id, i) for i in range(n)]
    blocks, spb = _ima_encode(samples, block_align)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, 1, rate,
        (rate * block_align + spb - 1) // spb,  # avg byte rate
        block_align, 4, 2, spb,
    )
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_adpcm_wav(b: bytes) -> tuple[int, np.ndarray] | None:
    """IMA-ADPCM (format 0x11) → (rate, int64 PCM16 samples), or
    None. MONO only (multi-channel IMA interleaves 4-byte channel
    groups — an honest refusal, never a guessed de-interleave); the
    fmt chunk must carry wSamplesPerBlock consistent with the block
    align, every block header's reserved byte must be 0 and its step
    index ≤ 88, and the ``fact`` count bounds the decoded stream
    (the final block's padding is truncated away, anything beyond
    the data's capacity refuses)."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt_body = data = fact = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        try:
            size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        except struct.error:
            return None
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and len(body) >= 4:
            (fact,) = struct.unpack("<I", body[:4])
        pos += 8 + size + (size & 1)
    if fmt_body is None or data is None or fact is None or len(fmt_body) < 20:
        return None
    tag, channels, rate, _br, balign, bits, cb, spb = struct.unpack(
        "<HHIIHHHH", fmt_body[:20]
    )
    if tag != 0x11 or channels != 1 or bits != 4 or cb < 2:
        return None
    if balign < 5 or spb != (balign - 4) * 2 + 1:
        return None
    if len(data) % balign:
        return None
    n_blocks = len(data) // balign
    if not n_blocks or fact > n_blocks * spb or fact <= (n_blocks - 1) * spb:
        return None  # fact must land inside the FINAL block
    out = np.empty(n_blocks * spb, dtype=np.int64)
    w = 0
    for blk in range(n_blocks):
        off = blk * balign
        pred, idx, reserved = struct.unpack_from("<hBB", data, off)
        if reserved != 0 or idx > 88:
            return None
        out[w] = pred
        w += 1
        for byte in data[off + 4 : off + balign]:
            for nib in (byte & 0x0F, byte >> 4):
                pred, idx = _ima_step(nib, pred, idx)
                out[w] = pred
                w += 1
    return int(rate), out[:fact]


def decode_pcm_wav(b: bytes) -> tuple[int, np.ndarray] | None:
    """bytes → (sample_rate, int64 sample array) for integer PCM
    (format 1: 16- or 24-bit, mono/multi-channel — the interleaved
    flat stream; per-channel views are one reshape away), IEEE FLOAT
    (format 3, 32-bit — converted to PCM16 via floor(f·32768),
    clamped, the standard render path — r6), G.711 µ-LAW (format 7,
    8-bit — expanded through the CCITT arithmetic — r6), or G.711
    A-LAW (format 6, 8-bit — the XOR-0x55 segment/mantissa expansion,
    r11); None for anything else. Walks RIFF chunks properly (skips
    unknown chunks, honors declared sizes + word alignment) instead
    of assuming a fixed layout."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    rate = None
    audio_fmt = channels = bits = None
    data: bytes | None = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        try:
            size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        except struct.error:
            return None
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt not in (1, 3, 6, 7):
                return None
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    # channel count: anything in the practical 1..8 range decodes
    # (the flat interleaved stream is channel-agnostic — r6 widened
    # the earlier {1, 2} gate); 0 is malformed, > 8 suspicious
    if rate is None or data is None or not 1 <= channels <= 8:
        return None
    if (
        (audio_fmt == 1 and bits not in (16, 24))
        or (audio_fmt == 3 and bits != 32)
        or (audio_fmt in (6, 7) and bits != 8)
    ):
        return None
    if audio_fmt == 3:  # IEEE float → PCM16 render (r6)
        n = len(data) // 4
        f = np.frombuffer(data, dtype="<f4", count=n).astype(np.float64)
        return int(rate), np.clip(
            np.floor(f * 32768.0), -32768, 32767
        ).astype(np.int64)
    if audio_fmt == 7:  # µ-law expansion (r6)
        u = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        v = ~u & 0xFF
        mag = (((v & 0x0F) << 3) + ULAW_BIAS) * (1 << ((v >> 4) & 0x07))
        mag -= ULAW_BIAS
        return int(rate), np.where(v & 0x80, -mag, mag)
    if audio_fmt == 6:  # A-law expansion (r11)
        u = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        v = u ^ 0x55
        mant = (v & 0x0F) << 4
        seg = (v >> 4) & 0x07
        t = np.where(seg == 0, mant + 8, mant + 0x108) << np.maximum(
            seg - 1, 0
        )
        return int(rate), np.where(v & 0x80, t, -t)
    if bits == 16:
        n = len(data) // 2
        return int(rate), np.frombuffer(data, dtype="<i2", count=n).astype(np.int64)
    # 24-bit: assemble 3 little-endian bytes, then sign-extend from
    # bit 23 (r5 extension)
    n = len(data) // 3
    raw = np.frombuffer(data, dtype=np.uint8, count=n * 3).reshape(n, 3).astype(np.int64)
    u = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
    return int(rate), u - (u >= (1 << 23)) * (1 << 24)


WAV_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("sum_amp", LongType(), True),
        StructField("sum_sq", LongType(), True),
        StructField("max_amp", IntegerType(), True),
    ]
)


def synthesize_pcm_wav(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    return map_rows(ids, BMP_ASSET_SCHEMA, lambda a: [(a, make_pcm_wav(a))], id_col)


def synthesize_wav_mixed(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """asset_id % 4 == 0 → mono 16-bit, % 8 == 2 → STEREO 16-bit,
    % 8 == 6 → SIX-channel 16-bit (5.1 layout, r6); odd ids split the
    r5 all-24-bit leg: % 8 ∈ {1, 5} → mono 24-bit, % 8 == 7 → IEEE
    FLOAT32 (r6); the r6 telephony slot % 8 == 3 splits in r11 into
    the complete G.711 pair: % 16 == 3 → µ-LAW, % 16 == 11 →
    A-LAW."""

    def _mk(a: int) -> bytes:
        if a % 16 == 3:
            return make_pcm_wav_ulaw(a)
        if a % 16 == 11:
            return make_pcm_wav_alaw(a)
        if a % 8 == 7:
            return make_pcm_wav_f32(a)
        if a % 2 == 1:
            return make_pcm_wav24(a)
        if a % 4 == 0:
            return make_pcm_wav(a)
        return make_pcm_wav_multi(a, 2 if a % 8 == 2 else 6)

    return map_rows(ids, BMP_ASSET_SCHEMA, lambda a: [(a, _mk(a))], id_col)


def wav_sample_stats(assets: DataFrame) -> DataFrame:
    """Decode every payload and aggregate exact integer amplitude
    stats (sum, sum of squares — the RMS numerator — and peak)."""

    def stats(aid, payload):
        dec = decode_pcm_wav(payload) if payload is not None else None
        if dec is None:
            return [(aid,)]
        rate, s = dec
        max_amp = int(np.abs(s).max()) if len(s) else None
        return [(aid, rate, len(s), int(s.sum()), int((s * s).sum()), max_amp)]

    return map_rows(assets, WAV_STATS_SCHEMA, stats, "asset_id", "payload")
