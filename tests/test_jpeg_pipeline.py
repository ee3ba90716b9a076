"""One JPEG decode per payload.

Two checks pin the single-walk pipeline of multimodal/jpeg.py:

- the marker walk runs exactly once per payload in every dispatcher
  (``decode_jpeg_rgb``, ``multimodal._decode_dims``,
  ``multimodal._decode_rgb`` and the ``jpeg_full_stats`` kernel), on
  every synthesized profile;
- every public ``decode_jpeg_*`` and the ``jpeg_full_stats`` kernel
  give the same results as the per-profile decoders the pipeline
  replaced, kept verbatim below as the oracle, on every synthesized
  profile over 64 asset ids and on 2,000 seeded mutations of them
  (byte flips, truncations, inserted 0xFF fill bytes, swapped
  segments). No input may raise. The one divergence the mutations
  reach, bytes between a sequential or lossless scan and EOI, is
  checked exactly (``_without_tail``).
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

import queryengine_spark.multimodal as mm
import queryengine_spark.multimodal.jpeg as J
from queryengine_spark.multimodal.jpeg import (
    ZIGZAG_NAT,
    _BitReader,
    _build_decode_table,
    _HuffTable,
    _ll_predict,
    _IDCT_B_NP,
    IDCT_BIAS,
    IDCT_SHIFT,
    _read_huff,
    planes3_to_rgb,
    planes3_to_rgb_centered,
)

# ---------------------------------------------------------------------------
# Oracle: the replaced decoders and the einsum IDCT, verbatim (the
# jpeg_full_stats kernel is lifted out of its closure and named
# old_full_stats). They call the primitives imported above — bit
# reader, Huffman tables, lossless predictor, RGB upsample — which the
# pipeline kept unchanged.
# ---------------------------------------------------------------------------


def idct8_fixed(coefs: np.ndarray) -> np.ndarray:
    """(n, 64) natural-order DEQUANTIZED int64 coefficients →
    (n, 8, 8) int64 pixels in [0, 255] via the pinned fixed-point
    IDCT spec above. Natural index = 8·v + u (v vertical / row
    frequency, u horizontal / column), so the einsum reads
    F[v][u]·B[u][x]·B[v][y] exactly as specified."""
    c = coefs.reshape(-1, 8, 8)
    acc = np.einsum("nvu,ux,vy->nyx", c, _IDCT_B_NP, _IDCT_B_NP)
    return np.clip(((acc + IDCT_BIAS) >> (2 * IDCT_SHIFT)) + 128, 0, 255)


def _split_entropy(b: bytes, scan_start: int):
    """Entropy region → (segments, end_ok): walk from scan_start,
    0xFF00 unstuffs to a data 0xFF, restart markers RST0..RST7 split
    the stream into byte-aligned segments (validated to cycle n =
    0, 1, ... mod 8 — an out-of-order RSTn is corruption, not data),
    EOI terminates. Any other marker inside the scan → None."""
    segs: list[bytes] = []
    cur = bytearray()
    expect_rst = 0
    pos = scan_start
    n = len(b)
    while pos < n:
        c = b[pos]
        if c != 0xFF:
            cur.append(c)
            pos += 1
            continue
        if pos + 1 >= n:
            return None
        m = b[pos + 1]
        if m == 0x00:  # stuffed data byte
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            if m - 0xD0 != expect_rst:
                return None
            expect_rst = (expect_rst + 1) % 8
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        elif m == 0xD9:  # EOI
            segs.append(bytes(cur))
            return segs
        else:
            return None
    return None  # ran off the end without EOI


def _parse_segments_multi(b: bytes):
    """Generalized JFIF marker walk (r5, extended r6): SOI → (DQTs,
    SOF0, DHTs, optional DRI, SOS) → entropy bytes. Handles MULTIPLE
    quant tables (several per DQT segment, keyed by table id; 8-bit
    Pq=0 AND 16-bit Pq=1 precisions, normalized to int tuples), 1- or
    3-component baseline sequential scans with the FULL legal range
    of per-component sampling factors h, v ∈ 1..4 (B.2.2; interleaved
    MCUs capped at 10 data units per B.2.3) — covering 4:4:4, 4:2:0,
    4:2:2, 4:4:0, 4:1:1 — and DRI restart intervals (the scan is
    split at RSTn markers into byte-aligned segments with the marker
    sequence number validated). Returns
    (comps, (w, h), segments, restart_interval) with
    comps = [(quant_ints, dc_table, ac_table, h_c, v_c), ...] in
    scan order, or None. Refuses non-baseline SOFs and undefined DQT
    precisions (Pq ≥ 2)."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    quants: dict[int, bytes] = {}
    sof = None
    sof_comps: list[tuple[int, int, int, int]] = []  # (comp_id, quant_id, h, v)
    huff: dict[tuple[int, int], dict] = {}
    scan_start = None
    scan_tabs: list[tuple[int, int, int]] = []  # (comp_id, dc_id, ac_id)
    restart_interval = 0
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip them (r10, r9 ADVICE: DNG-embedded SOF3 and
        # some hardware encoders pad with fills; refusing them lost
        # spec-valid files)
        while pos + 2 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(b):
            # fill bytes ran into EOF: no room for marker + length —
            # refuse (r10 ADVICE: the skip must not outrun the
            # pos+4<=len guard the loop header established)
            return None
        marker = b[pos + 1]
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        body = b[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            return None
        if marker == 0xDB:
            # a DQT segment may carry several table entries; Pq=0 →
            # 65-byte 8-bit tables, Pq=1 → 129-byte big-endian 16-bit
            # tables (r6 — high-quality encoders emit these); both are
            # normalized to int tuples so dequantization is uniform
            p = 0
            while p < len(body):
                pq = body[p] >> 4
                tid = body[p] & 0x0F
                if pq == 0:
                    if p + 65 > len(body):
                        return None
                    quants[tid] = tuple(body[p + 1 : p + 65])
                    p += 65
                elif pq == 1:
                    if p + 129 > len(body):
                        return None
                    quants[tid] = struct.unpack(">64H", body[p + 1 : p + 129])
                    p += 129
                else:
                    return None  # Pq 2..15 undefined
        elif marker == 0xC0:
            if len(body) < 6:
                return None
            prec, h, w_, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp not in (1, 3):
                return None
            if len(body) < 6 + 3 * ncomp:
                return None  # truncated SOF: refuse, don't raise
            sof_comps = []
            for ci in range(ncomp):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hc, vc = samp >> 4, samp & 0x0F
                if ncomp == 1:
                    # a single-component scan is non-interleaved: one
                    # block per MCU regardless of declared factors
                    hc = vc = 1
                if not (1 <= hc <= 4 and 1 <= vc <= 4):
                    return None  # factors 0 and 5..15 are illegal (B.2.2)
                sof_comps.append((cid, tq, hc, vc))
            if ncomp > 1 and sum(hc * vc for _, _, hc, vc in sof_comps) > 10:
                return None  # interleaved MCU exceeds 10 blocks (B.2.3)
            sof = (w_, h)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            return None  # non-baseline SOF
        elif marker == 0xDD:
            if len(body) != 2:
                return None
            (restart_interval,) = struct.unpack(">H", body)
        elif marker == 0xC4:
            # a DHT segment may carry several tables too
            p = 0
            while p < len(body):
                tclass, tid = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                if len(bits) != 16:
                    return None
                n = sum(bits)
                if p + 17 + n > len(body):
                    return None
                huff[(tclass, tid)] = _build_decode_table(
                    bits, list(body[p + 17 : p + 17 + n])
                )
                p += 17 + n
        elif marker == 0xDA:
            ns = body[0]
            if ns not in (1, 3):
                return None
            scan_tabs = []
            for ci in range(ns):
                cid = body[1 + 2 * ci]
                tt = body[2 + 2 * ci]
                scan_tabs.append((cid, tt >> 4, tt & 0x0F))
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if scan_start is None or sof is None or not quants:
        return None
    if len(scan_tabs) != len(sof_comps):
        return None
    sof_by_id = {cid: (tq, hc, vc) for cid, tq, hc, vc in sof_comps}
    comps = []
    for cid, dc_id, ac_id in scan_tabs:
        if cid not in sof_by_id:
            return None
        tq, hc, vc = sof_by_id[cid]
        if tq not in quants or (0, dc_id) not in huff or (1, ac_id) not in huff:
            return None
        comps.append((quants[tq], huff[(0, dc_id)], huff[(1, ac_id)], hc, vc))
    segments = _split_entropy(b, scan_start)
    if segments is None:
        return None
    return comps, sof, segments, restart_interval


def _parse_segments(b: bytes):
    """Single-component view of :func:`_parse_segments_multi` — the
    contract the grayscale decode paths keep: returns
    (quant, (w, h), dc_table, ac_table, segments, restart_interval)
    or None (also None for 3-component files; those go through
    decode_jpeg_dc3 / decode_jpeg_dc_planes)."""
    parsed = _parse_segments_multi(b)
    if parsed is None:
        return None
    comps, sof, segments, ri = parsed
    if len(comps) != 1:
        return None
    quant, dc_tab, ac_tab, _, _ = comps[0]
    return quant, sof, dc_tab, ac_tab, segments, ri


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


def decode_jpeg_dc(b: bytes) -> np.ndarray | None:
    """bytes → (h, w) uint8 grayscale array for a single-component
    baseline JFIF whose scan is DC-only, or None for anything else —
    including a scan that contains ANY nonzero AC coefficient (the
    full-IDCT pixel path is out of scope by contract, never
    approximated; AC-bearing scans are exactly decodable in the
    COEFFICIENT domain instead — ``decode_jpeg_coeffs``)."""
    parsed = _parse_segments(b)
    if parsed is None:
        return None
    quant, (w_, h), dc_tab, ac_tab, segments, ri = parsed
    bw, bh = (w_ + 7) // 8, (h + 7) // 8
    if len(segments) != (1 if ri == 0 else -(-(bw * bh) // ri)):
        return None  # segment count must match the declared interval
    q0 = quant[0]
    if q0 % 8:
        return None  # exact-pixel contract requires q0 ≡ 0 (mod 8)
    out = np.empty((bh * 8, bw * 8), dtype=np.uint8)
    pred = 0
    r = _BitReader(segments[0])
    seg = 0
    for bi in range(bw * bh):
        if ri and bi and bi % ri == 0:
            seg += 1
            r = _BitReader(segments[seg])
            pred = 0  # predictor resets at every restart marker
        diff = _read_dc_diff(r, dc_tab)
        if diff is None:
            return None
        pred += diff
        rs = _read_huff(r, ac_tab)
        if rs is None:
            return None
        if rs != 0x00:
            return None  # nonzero AC: outside the exact-pixel profile
        px = pred * q0 // 8 + 128
        if not 0 <= px <= 255:
            return None
        by, bx = divmod(bi, bw)
        out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
    return out[:h, :w_]


def decode_jpeg_dc_planes(b: bytes) -> tuple[int, int, list[np.ndarray]] | None:
    """Back-compat wrapper over :func:`decode_jpeg_dc_planes_hv`
    dropping the sampling-factor list (r9)."""
    res = decode_jpeg_dc_planes_hv(b)
    if res is None:
        return None
    return res[0], res[1], res[2]


def decode_jpeg_dc_planes_hv(
    b: bytes,
) -> tuple[int, int, list[np.ndarray], list[tuple[int, int]]] | None:
    """bytes → (w, h, planes, hv) — hv is the per-component
    (h_c, v_c) sampling-factor list (r9, threaded to the RGB
    upsample so the index map never guesses the factor) — for a
    1- or 3-component baseline JFIF
    whose scan is DC-only, with GENERAL per-component sampling
    factors h, v ∈ 1..4 (4:4:4, 4:2:0, 4:2:2, 4:4:0, 4:1:1) and DRI
    restart intervals (r6). MCU geometry per JPEG A.2.3: an MCU covers
    8·h_max × 8·v_max pixels and carries v_c×h_c blocks of component
    c in raster order; component c's native dimensions are
    ceil(w·h_c/h_max) × ceil(h·v_c/v_max) (A.1.1) and planes[c] is
    that native-resolution uint8 array (padding blocks decoded, then
    trimmed — chroma stats stay exact in the subsampled domain, no
    upsampling filter is ever invented). At each restart marker the
    DC predictors reset and the bitstream re-aligns; the segment
    count and RSTn sequence numbers are validated, a mismatch →
    None. Any nonzero AC or non-baseline profile → None (honest
    refusal, never an approximate IDCT)."""
    parsed = _parse_segments_multi(b)
    if parsed is None:
        return None
    comps, (w_, h), segments, ri = parsed
    if any(q[0] % 8 for q, _, _, _, _ in comps):
        return None  # exact-pixel contract requires q0 ≡ 0 (mod 8)
    hmax = max(hc for _, _, _, hc, _ in comps)
    vmax = max(vc for _, _, _, _, vc in comps)
    mcux = -(-w_ // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    total = mcux * mcuy
    if len(segments) != (1 if ri == 0 else -(-total // ri)):
        return None
    padded = [
        np.empty((mcuy * vc * 8, mcux * hc * 8), dtype=np.uint8)
        for _, _, _, hc, vc in comps
    ]
    preds = [0] * len(comps)
    r = _BitReader(segments[0])
    seg = 0
    for mcu in range(total):
        if ri and mcu and mcu % ri == 0:
            seg += 1
            r = _BitReader(segments[seg])
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for c, (quant, dc_tab, ac_tab, hc, vc) in enumerate(comps):
            for dy in range(vc):
                for dx in range(hc):
                    diff = _read_dc_diff(r, dc_tab)
                    if diff is None:
                        return None
                    preds[c] += diff
                    rs = _read_huff(r, ac_tab)
                    if rs is None or rs != 0x00:
                        return None  # nonzero AC: outside the exact profile
                    px = preds[c] * quant[0] // 8 + 128
                    if not 0 <= px <= 255:
                        return None
                    y0, x0 = (my * vc + dy) * 8, (mx * hc + dx) * 8
                    padded[c][y0 : y0 + 8, x0 : x0 + 8] = px
    planes = []
    for (_, _, _, hc, vc), arr in zip(comps, padded):
        wc = -(-(w_ * hc) // hmax)
        hcp = -(-(h * vc) // vmax)
        planes.append(arr[:hcp, :wc])
    return w_, h, planes, [(hc, vc) for _, _, _, hc, vc in comps]


def _decode_sequential_multi(b: bytes):
    """Full baseline SEQUENTIAL decode of a 1- or 3-component
    interleaved scan with the COMPLETE AC grammar (r7 — until now the
    multi-component sequential path was DC-only, leaving the single
    most common real-world JPEG shape, AC-bearing 4:2:0 baseline,
    undecodable): general sampling factors, DRI restart intervals,
    per-component quant/Huffman tables. Returns (comps, (w, h),
    grids, pw, wb, hb) with grids[c] an (pw·ph, 64) int64 array of
    DEQUANTIZED natural-order coefficients over the PADDED grid —
    the same contract as ``_decode_progressive``, so the dequant/
    trim/IDCT machinery is shared."""
    parsed = _parse_segments_multi(b)
    if parsed is None:
        return None
    comps, (w_, h), segments, ri = parsed
    hmax = max(hc for _, _, _, hc, _ in comps)
    vmax = max(vc for _, _, _, _, vc in comps)
    mcux = -(-w_ // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    total = mcux * mcuy
    if len(segments) != (1 if ri == 0 else -(-total // ri)):
        return None
    pw = [mcux * hc for _, _, _, hc, _ in comps]
    ph = [mcuy * vc for _, _, _, _, vc in comps]
    wb = [-(-(-(-(w_ * hc) // hmax)) // 8) for _, _, _, hc, _ in comps]
    hb = [-(-(-(-(h * vc) // vmax)) // 8) for _, _, _, _, vc in comps]
    grids = [
        np.zeros((pw[c] * ph[c], 64), dtype=np.int64) for c in range(len(comps))
    ]
    preds = [0] * len(comps)
    r = _BitReader(segments[0])
    seg = 0
    for mcu in range(total):
        if ri and mcu and mcu % ri == 0:
            seg += 1
            r = _BitReader(segments[seg])
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for c, (quant, dc_tab, ac_tab, hc, vc) in enumerate(comps):
            for dy in range(vc):
                for dx in range(hc):
                    diff = _read_dc_diff(r, dc_tab)
                    if diff is None:
                        return None
                    preds[c] += diff
                    row = grids[c][(my * vc + dy) * pw[c] + (mx * hc + dx)]
                    row[0] = preds[c] * quant[0]
                    k = 1
                    while k < 64:  # the decode_jpeg_coeffs AC grammar
                        rs = _read_huff(r, ac_tab)
                        if rs is None:
                            return None
                        if rs == 0x00:
                            break
                        run, size = rs >> 4, rs & 0x0F
                        if size == 0:
                            if run != 15:
                                return None
                            k += 16
                            if k >= 64:
                                return None
                            continue
                        k += run
                        if k > 63:
                            return None
                        bits_v = r.take(size)
                        if bits_v is None:
                            return None
                        val = (
                            bits_v
                            if bits_v >= (1 << (size - 1))
                            else bits_v - (1 << size) + 1
                        )
                        row[ZIGZAG_NAT[k]] = val * quant[k]
                        k += 1
    return comps, (w_, h), grids, pw, wb, hb


def _trim_real_blocks(grid: np.ndarray, pw_c: int, wb_c: int, hb_c: int) -> np.ndarray:
    """Padded (pw·ph, 64) grid → (wb·hb, 64) over the REAL blocks."""
    rows = [by * pw_c + bx for by in range(hb_c) for bx in range(wb_c)]
    return grid[rows]


def decode_jpeg_seq_coeffs_multi(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """Sequential multi-component twin of
    :func:`decode_jpeg_coeffs_prog3`: (w, h, [per-component
    (n_real_blocks, 64) dequantized coefficient arrays])."""
    res = _decode_sequential_multi(b)
    if res is None:
        return None
    comps, (w_, h), grids, pw, wb, hb = res
    if len(comps) != 3:
        return None
    return w_, h, [
        _trim_real_blocks(grids[c], pw[c], wb[c], hb[c]) for c in range(3)
    ]


def decode_jpeg_pixels_seq_multi(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """Sequential multi-component PIXEL decode (r7): each plane
    through the fixed-point IDCT at its native sampled resolution —
    the same contract as :func:`decode_jpeg_pixels_prog3`."""
    m = _multi3_from_seq(_decode_sequential_multi(b))
    if m is None:
        return None
    w_, h, _, planes, _hv = m
    return w_, h, planes


def decode_jpeg_dc3(b: bytes) -> np.ndarray | None:
    """bytes → (h, w, 3) uint8 YCbCr planes for a 3-component 4:4:4
    baseline JFIF whose scan is DC-only (r5): interleaved MCUs,
    SEPARATE DC predictors and per-component quant/Huffman tables
    resolved from the headers. Since r6 a thin stacking wrapper over
    :func:`decode_jpeg_dc_planes`; subsampled files (planes of
    different shapes) keep returning None from THIS function — they
    are served natively by the planes path instead."""
    res = decode_jpeg_dc_planes(b)
    if res is None:
        return None
    w_, h, planes = res
    if len(planes) != 3 or any(p.shape != (h, w_) for p in planes):
        return None
    return np.stack(planes, axis=-1)


def decode_jpeg_coeffs(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """Full baseline entropy decode in the exact COEFFICIENT domain
    (r5): bytes → (width, height, coeffs) where coeffs is an
    (n_blocks, 64) int64 array of DEQUANTIZED pre-IDCT coefficients
    in natural (row-major) order, blocks in scan order. Handles the
    complete AC run/size grammar — ZRL (16-zero runs), EOB, and the
    implicit block end after a coefficient at k=63. Only
    non-baseline/multi-component/DRI profiles are refused (via
    ``_parse_segments``); unlike the pixel path there is NO DC-only
    restriction and no q0 % 8 requirement, because dequantization is
    exact integer multiplication and the float IDCT is never run.
    Coefficient k (zigzag) dequantizes with quant[k] (DQT stores
    zigzag order) and lands at natural index ZIGZAG_NAT[k]. DRI
    restart intervals are honored (r6): predictor resets + bitstream
    re-alignment at each validated RSTn."""
    parsed = _parse_segments(b)
    if parsed is None:
        return None
    quant, (w_, h), dc_tab, ac_tab, segments, ri = parsed
    bw, bh = (w_ + 7) // 8, (h + 7) // 8
    if len(segments) != (1 if ri == 0 else -(-(bw * bh) // ri)):
        return None
    r = _BitReader(segments[0])
    seg = 0
    out = np.zeros((bw * bh, 64), dtype=np.int64)
    pred = 0
    for bi in range(bw * bh):
        if ri and bi and bi % ri == 0:
            seg += 1
            r = _BitReader(segments[seg])
            pred = 0
        diff = _read_dc_diff(r, dc_tab)
        if diff is None:
            return None
        pred += diff
        out[bi, 0] = pred * quant[0]
        k = 1
        while k < 64:
            rs = _read_huff(r, ac_tab)
            if rs is None:
                return None
            if rs == 0x00:  # EOB: rest of the block is zero
                break
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run != 15:
                    return None  # only ZRL has size 0
                k += 16
                if k >= 64:
                    return None  # ZRL must leave room for a coefficient
                continue
            k += run
            if k > 63:
                return None
            bits_v = r.take(size)
            if bits_v is None:
                return None
            val = bits_v if bits_v >= (1 << (size - 1)) else bits_v - (1 << size) + 1
            out[bi, ZIGZAG_NAT[k]] = val * quant[k]
            k += 1
    return w_, h, out


def _split_entropy_scan(b: bytes, start: int):
    """Progressive twin of :func:`_split_entropy`: collect one scan's
    entropy region from ``start``, unstuffing 0xFF00 and splitting at
    validated RSTn markers, but STOP at the first other marker (the
    next scan's DHT/SOS, or EOI) instead of requiring EOI — returns
    (segments, marker_pos) or None on corruption/truncation."""
    segs: list[bytes] = []
    cur = bytearray()
    expect_rst = 0
    pos = start
    n = len(b)
    while pos < n:
        c = b[pos]
        if c != 0xFF:
            cur.append(c)
            pos += 1
            continue
        if pos + 1 >= n:
            return None
        m = b[pos + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            if m - 0xD0 != expect_rst:
                return None
            expect_rst = (expect_rst + 1) % 8
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            segs.append(bytes(cur))
            return segs, pos
    return None



def _parse_progressive(b: bytes):
    """Marker walk for a PROGRESSIVE (SOF2) JFIF, 1 or 3 components
    (r6): unlike the sequential walk, SOS repeats — each scan's
    parameters (component list, Ss, Se, Ah, Al), table snapshot,
    restart interval, and entropy segments are collected in order,
    and DQT/DHT/DRI segments may appear BETWEEN scans (tables are
    resolved at scan time, the way real progressive encoders
    redefine them). Returns (comps, (w, h), scans) with comps =
    [(quant_ints, h_c, v_c), ...] in SOF order and scans =
    [(comp_tabs, ss, se, ah, al, segments, ri), ...] where comp_tabs
    = [(comp_index, dc_tab, ac_tab), ...] in scan order. Refuses
    undefined DQT precisions, illegal sampling factors, and
    interleaved scans that are not DC-only (G.1: AC scans are always
    single-component)."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    quants: dict[int, tuple] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    sof_comps: list[tuple[int, int, int, int]] = []  # (cid, tq, hc, vc)
    restart_interval = 0
    scans = []
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            return None
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip them (r10, r9 ADVICE: DNG-embedded SOF3 and
        # some hardware encoders pad with fills; refusing them lost
        # spec-valid files)
        while pos + 2 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            if sof is None or not scans:
                return None
            comps = []
            for _cid, tq, hc, vc in sof_comps:
                if tq not in quants:
                    return None
                comps.append((quants[tq], hc, vc))
            return comps, sof, scans
        if pos + 4 > len(b):
            return None
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        body = b[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            return None
        if marker == 0xDB:
            p = 0
            while p < len(body):
                pq = body[p] >> 4
                tid = body[p] & 0x0F
                if pq == 0:
                    if p + 65 > len(body):
                        return None
                    quants[tid] = tuple(body[p + 1 : p + 65])
                    p += 65
                elif pq == 1:
                    if p + 129 > len(body):
                        return None
                    quants[tid] = struct.unpack(">64H", body[p + 1 : p + 129])
                    p += 129
                else:
                    return None
        elif marker == 0xC2:
            if len(body) < 6:
                return None
            prec, h, w_, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp not in (1, 3):
                return None
            if len(body) < 6 + 3 * ncomp:
                return None
            sof_comps = []
            for ci in range(ncomp):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hc, vc = samp >> 4, samp & 0x0F
                if ncomp == 1:
                    hc = vc = 1  # single component is non-interleaved
                if not (1 <= hc <= 4 and 1 <= vc <= 4):
                    return None
                sof_comps.append((cid, tq, hc, vc))
            sof = (w_, h)
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            return None  # not progressive (or non-baseline): not ours
        elif marker == 0xDD:
            if len(body) != 2:
                return None
            (restart_interval,) = struct.unpack(">H", body)
        elif marker == 0xC4:
            p = 0
            while p < len(body):
                tclass, tid = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                if len(bits) != 16:
                    return None
                nv = sum(bits)
                if p + 17 + nv > len(body):
                    return None
                huff[(tclass, tid)] = _build_decode_table(
                    bits, list(body[p + 17 : p + 17 + nv])
                )
                p += 17 + nv
        elif marker == 0xDA:
            if sof is None or len(body) < 1:
                return None
            ns = body[0]
            if len(body) != 4 + 2 * ns or not 1 <= ns <= len(sof_comps):
                return None
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if ns > 1:
                if ss != 0 or se != 0:
                    return None  # interleaved AC scans are illegal (G.1)
                if sum(hc * vc for _, _, hc, vc in sof_comps) > 10:
                    return None
            cid_index = {cid: i for i, (cid, _, _, _) in enumerate(sof_comps)}
            comp_tabs = []
            for si in range(ns):
                cid = body[1 + 2 * si]
                tt = body[2 + 2 * si]
                if cid not in cid_index:
                    return None
                # table presence is only required where the scan reads
                # it: DC refinement is raw bits, AC never touches DC
                dc_tab = huff.get((0, tt >> 4))
                ac_tab = huff.get((1, tt & 0x0F))
                if ss == 0 and ah == 0 and dc_tab is None:
                    return None
                if ss > 0 and ac_tab is None:
                    return None
                comp_tabs.append((cid_index[cid], dc_tab, ac_tab))
            split = _split_entropy_scan(b, pos + 2 + seglen)
            if split is None:
                return None
            segments, nxt = split
            scans.append(
                (comp_tabs, ss, se, ah, al, segments, restart_interval)
            )
            pos = nxt
            continue
        pos += 2 + seglen
    return None


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


def _decode_progressive(b: bytes):
    """Replay every scan of a 1- or 3-component SOF2 stream through
    the four Annex G decoders. Geometry per A.2.3: interleaved
    (multi-component, DC-only by G.1) scans walk MCUs carrying
    h_c×v_c blocks per component into each component's PADDED grid
    (mcux·h_c wide); non-interleaved scans walk the owning
    component's ceil-dimension block raster. Returns (comps, (w, h),
    grids, pw, wb, hb) with grids[c] the padded QUANTIZED
    zigzag-indexed rows, pw[c] the padded width and wb/hb[c] the
    real (non-padding) block dims, or None. Scan-script sanity is
    enforced (band bounds, Ah = Al + 1, per-component DC-before-AC);
    restart intervals are honored per scan with predictor AND
    EOB-run resets; a nonzero EOB run crossing a restart boundary is
    corruption → None."""
    parsed = _parse_progressive(b)
    if parsed is None:
        return None
    comps, (w_, h), scans = parsed
    ncomp = len(comps)
    hmax = max(hc for _, hc, _ in comps)
    vmax = max(vc for _, _, vc in comps)
    mcux = -(-w_ // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    pw = [mcux * hc for _, hc, _ in comps]
    ph = [mcuy * vc for _, _, vc in comps]
    # real block dims: ceil(component sample dims / 8), sample dims
    # per A.1.1 = ceil(image dim · factor / max factor)
    wb = [-(-(-(-(w_ * hc) // hmax)) // 8) for _, hc, _ in comps]
    hb = [-(-(-(-(h * vc) // vmax)) // 8) for _, _, vc in comps]
    grids = [
        [[0] * 64 for _ in range(pw[c] * ph[c])] for c in range(ncomp)
    ]
    dc_done = [False] * ncomp
    for comp_tabs, ss, se, ah, al, segments, ri in scans:
        if not (0 <= ss <= se <= 63) or al > 13 or (ah and ah != al + 1):
            return None
        if ss == 0 and se != 0:
            return None  # DC and AC never share a progressive scan
        if ss > 0 and not dc_done[comp_tabs[0][0]]:
            return None  # G.1.1.1.1: the DC scan precedes AC scans
        interleaved = len(comp_tabs) > 1
        if interleaved:
            total = mcux * mcuy
        else:
            c0 = comp_tabs[0][0]
            total = wb[c0] * hb[c0]
        if len(segments) != (1 if ri == 0 else -(-total // ri)):
            return None
        preds = [0] * ncomp
        eobrun = 0
        r = _BitReader(segments[0])
        seg = 0
        for m in range(total):
            if ri and m and m % ri == 0:
                if eobrun:
                    return None  # EOB runs must not cross restarts
                seg += 1
                r = _BitReader(segments[seg])
                preds = [0] * ncomp
            if interleaved:
                my, mx = divmod(m, mcux)
                units = [
                    (c, dc_tab, (my * vc + dy) * pw[c] + (mx * hc + dx))
                    for c, dc_tab, _ in comp_tabs
                    for _, hc, vc in (comps[c],)
                    for dy in range(vc)
                    for dx in range(hc)
                ]
            else:
                c0, dc_tab0, ac_tab0 = comp_tabs[0]
                by, bx = divmod(m, wb[c0])
                units = [(c0, dc_tab0, by * pw[c0] + bx)]
            for c, dc_tab, bi in units:
                row = grids[c][bi]
                if ss == 0:
                    if ah == 0:  # DC first
                        diff = _read_dc_diff(r, dc_tab)
                        if diff is None:
                            return None
                        preds[c] += diff
                        row[0] = preds[c] << al
                    else:  # DC refine: raw bit ORed at two's complement
                        bit = r.bit()
                        if bit is None:
                            return None
                        if bit:
                            row[0] |= 1 << al
                elif ah == 0:
                    eobrun = _dec_ac_first(
                        r, row, comp_tabs[0][2], ss, se, al, eobrun
                    )
                else:
                    eobrun = _dec_ac_refine(
                        r, row, comp_tabs[0][2], ss, se, al, eobrun
                    )
                if eobrun is None:
                    return None
        if ss == 0:
            for c, _, _ in comp_tabs:
                dc_done[c] = True
    return comps, (w_, h), grids, pw, wb, hb


def _dequant_grid(grid, quant, pw_c, wb_c, hb_c) -> np.ndarray:
    """Padded quantized grid → (wb·hb, 64) dequantized natural-order
    array over the REAL blocks only, raster order."""
    out = np.zeros((wb_c * hb_c, 64), dtype=np.int64)
    for by in range(hb_c):
        for bx in range(wb_c):
            row = grid[by * pw_c + bx]
            o = out[by * wb_c + bx]
            for k, v in enumerate(row):
                if v:
                    o[ZIGZAG_NAT[k]] = v * quant[k]
    return out


def decode_jpeg_coeffs_prog(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """Progressive twin of :func:`decode_jpeg_coeffs` (r6): bytes →
    (width, height, coeffs) with coeffs an (n_blocks, 64) int64 array
    of exact DEQUANTIZED pre-IDCT coefficients in natural order, for
    a SINGLE-component SOF2 stream; 3-component streams are served by
    :func:`decode_jpeg_coeffs_prog3`."""
    res = _decode_progressive(b)
    if res is None:
        return None
    comps, (w_, h), grids, pw, wb, hb = res
    if len(comps) != 1:
        return None
    return w_, h, _dequant_grid(grids[0], comps[0][0], pw[0], wb[0], hb[0])


def _planes3_from_coeffs(
    arrs: list[np.ndarray],
    hv: list[tuple[int, int]],
    w_: int,
    h: int,
    wb: list[int],
    hb: list[int],
) -> list[np.ndarray]:
    """[per-component (n_real_blocks, 64) DEQUANTIZED coefficients] →
    native-resolution uint8 planes through the fixed-point IDCT —
    the one shared pixel assembly both the progressive and the
    sequential multi-component paths ride (r8: also lets
    jpeg_full_stats derive coefficients AND pixels from a single
    entropy decode instead of re-running it)."""
    hmax = max(hc for hc, _ in hv)
    vmax = max(vc for _, vc in hv)
    planes = []
    for c in range(3):
        px = idct8_fixed(arrs[c])
        img = px.reshape(hb[c], wb[c], 8, 8).transpose(0, 2, 1, 3)
        img = img.reshape(hb[c] * 8, wb[c] * 8)
        hc, vc = hv[c]
        cw = -(-(w_ * hc) // hmax)
        ch = -(-(h * vc) // vmax)
        planes.append(img[:ch, :cw].astype(np.uint8))
    return planes


def _multi3_from_prog(res) -> tuple | None:
    """_decode_progressive result → (w, h, coeff arrays, pixel
    planes, hv sampling factors), all views from the ONE decoded
    grid set (hv added r9 so the RGB upsample uses the true
    factors, not a recovered ceil)."""
    if res is None:
        return None
    comps, (w_, h), grids, pw, wb, hb = res
    if len(comps) != 3:
        return None
    arrs = [
        _dequant_grid(grids[c], comps[c][0], pw[c], wb[c], hb[c])
        for c in range(3)
    ]
    hv = [(hc, vc) for _, hc, vc in comps]
    return w_, h, arrs, _planes3_from_coeffs(arrs, hv, w_, h, wb, hb), hv


def _multi3_from_seq(res) -> tuple | None:
    """_decode_sequential_multi result → the same dual view + hv."""
    if res is None:
        return None
    comps, (w_, h), grids, pw, wb, hb = res
    if len(comps) != 3:
        return None
    arrs = [
        _trim_real_blocks(grids[c], pw[c], wb[c], hb[c]) for c in range(3)
    ]
    hv = [(hc, vc) for *_, hc, vc in comps]
    return w_, h, arrs, _planes3_from_coeffs(arrs, hv, w_, h, wb, hb), hv


def decode_jpeg_pixels_prog3(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """PIXEL decode of a 3-component progressive stream (r7): each
    component's real (non-padding) block grid runs through the pinned
    fixed-point integer IDCT and is returned at its NATIVE sampled
    resolution — (w, h, [per-component (ch, cw) uint8 planes]).
    Full-resolution RGB is served separately by the pinned integer
    nearest-neighbor upsample + Rec.601 path (:func:`planes3_to_rgb`,
    r8). This closes the last
    pixel refusal: every profile the coefficient decoders accept now
    has an exact, oracle-replayable pixel path."""
    m = _multi3_from_prog(_decode_progressive(b))
    if m is None:
        return None
    w_, h, _, planes, _hv = m
    return w_, h, planes


def decode_jpeg_coeffs_prog3(
    b: bytes,
) -> tuple[int, int, list[np.ndarray]] | None:
    """3-component progressive decode (r6): bytes → (width, height,
    [per-component (n_blocks_c, 64) dequantized coefficient arrays])
    over each component's REAL (non-padding) block grid — subsampled
    chroma keeps its native resolution, consistent with the baseline
    planes path."""
    res = _decode_progressive(b)
    if res is None:
        return None
    comps, (w_, h), grids, pw, wb, hb = res
    if len(comps) != 3:
        return None
    return w_, h, [
        _dequant_grid(grids[c], comps[c][0], pw[c], wb[c], hb[c])
        for c in range(3)
    ]



def decode_jpeg_pixels(b: bytes) -> np.ndarray | None:
    """Full PIXEL decode for any single-component stream the exact
    coefficient decoders accept — baseline sequential (incl. DRI
    restarts and 16-bit DQTs) AND progressive SOF2 — through the
    fixed-point integer IDCT. Returns an (h, w) uint8 image or None.
    This closes the AC pixel refusal; 3-component progressive
    streams are served by :func:`decode_jpeg_pixels_prog3` (native
    per-plane resolution)."""
    co = decode_jpeg_coeffs(b)
    if co is None:
        co = decode_jpeg_coeffs_prog(b)
    if co is None:
        return None
    w_, h, coefs = co
    bw, bh = (w_ + 7) // 8, (h + 7) // 8
    px = idct8_fixed(coefs)
    img = px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return img[:h, :w_].astype(np.uint8)


def decode_jpeg_rgb(b: bytes) -> np.ndarray | None:
    """(h, w, 3) uint8 RGB for ANY profile the decoders accept:
    single-component streams replicate gray to three channels;
    3-component streams (DC-only or AC, any sampling) go through the
    pinned integer upsample + Rec.601 path. The one-call entry the
    image ops (phash, resize/crop) dispatch JPEG payloads to (r8)."""
    gray = decode_jpeg_pixels(b)
    if gray is not None:
        return np.repeat(gray[:, :, None], 3, axis=2)
    ll = decode_jpeg_lossless(b)
    if ll is not None:
        # r9: 8-bit SOF3 renders like any gray stream; deeper
        # precisions have no defined 8-bit rendering here — refuse
        w_, h, img, prec = ll
        if prec != 8:
            return None
        return np.repeat(img.astype(np.uint8)[:, :, None], 3, axis=2)
    res = decode_jpeg_dc_planes_hv(b)
    if res is not None and len(res[2]) == 3:
        w_, h, planes, hv = res
    else:
        m = _multi3_from_prog(_decode_progressive(b))
        if m is None:
            m = _multi3_from_seq(_decode_sequential_multi(b))
        if m is None:
            return None
        w_, h, _, planes, hv = m
    rgb = planes3_to_rgb(w_, h, planes, hv)
    if rgb is None:
        return None
    r, g, bl = rgb
    return np.stack([r, g, bl], axis=-1).astype(np.uint8)


def _parse_segments_lossless(b: bytes):
    """Marker walk for SOF3 streams → (prec, w, h, psel, pt,
    dc_table, entropy_bytes) or None. Accepts precisions 2..16 per
    H.1; single component; refuses DRI (restart geometry in a
    lossless scan is unimplemented — refusal, never a guess), DCT
    SOFs (those belong to the other parsers), and a scan header
    whose Ss is not a valid predictor 1..7 or Se != 0."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    huff: dict[int, dict] = {}
    sof = None
    prec = 0
    scan = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip them (r10, r9 ADVICE: DNG-embedded SOF3 and
        # some hardware encoders pad with fills; refusing them lost
        # spec-valid files)
        while pos + 2 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(b):
            # fill bytes ran into EOF: no room for marker + length —
            # refuse (r10 ADVICE: the skip must not outrun the
            # pos+4<=len guard the loop header established)
            return None
        marker = b[pos + 1]
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        body = b[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            return None
        if marker == 0xC3:
            if len(body) < 9:
                return None
            prec, h, w_, ncomp = struct.unpack(">BHHB", body[:6])
            if not (2 <= prec <= 16) or ncomp != 1:
                return None
            sof = (w_, h)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC5, 0xC6, 0xC7, 0xDD):
            return None  # DCT frames / DRI: not this parser's contract
        elif marker == 0xC4:
            p = 0
            while p < len(body):
                tclass, tid = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                if len(bits) != 16:
                    return None
                n = sum(bits)
                if p + 17 + n > len(body):
                    return None
                if tclass == 0:
                    huff[tid] = _build_decode_table(
                        bits, list(body[p + 17 : p + 17 + n])
                    )
                p += 17 + n
        elif marker == 0xDA:
            if len(body) != 6 or body[0] != 1:
                return None
            dc_id = body[2] >> 4
            psel, se, ahal = body[3], body[4], body[5]
            pt = ahal & 0x0F
            if not (1 <= psel <= 7) or se != 0 or (ahal >> 4) != 0:
                return None
            if pt >= prec or dc_id not in huff:
                return None
            scan = (psel, pt, huff[dc_id], pos + 2 + seglen)
            break
        pos += 2 + seglen
    if sof is None or scan is None:
        return None
    psel, pt, table, scan_start = scan
    segments = _split_entropy(b, scan_start)
    if segments is None or len(segments) != 1:
        return None  # no DRI → a RSTn in the scan is corruption
    return prec, sof[0], sof[1], psel, pt, table, segments[0]


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


def decode_jpeg_lossless(
    b: bytes,
) -> tuple[int, int, np.ndarray, int] | None:
    """SOF3 stream → (w, h, int64 (h, w) sample array, precision) or
    None. The decoder mirrors nothing from the encoder but the spec:
    predictions re-derived per H.1.2.1, reconstruction
    (pred + diff) mod 2^16 per H.1.2.2, then range-checked against
    the declared precision (an out-of-range sample means a corrupt
    stream — refuse, don't clamp)."""
    parsed = _parse_segments_lossless(b)
    if parsed is None:
        return None
    prec, w, h, psel, pt, tab, entropy = parsed
    if w <= 0 or h <= 0 or w > 1 << 14 or h > 1 << 14:
        return None
    r = _BitReader(entropy)
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


def rgb_sums(w, h, planes, hv):
    rgb = planes3_to_rgb(w, h, planes, hv)
    rgb_c = planes3_to_rgb_centered(w, h, planes, hv)
    if rgb is None or rgb_c is None:
        return (None,) * 6
    return tuple(int(c.sum()) for c in (*rgb, *rgb_c))

def old_full_stats(aid, payload):
    b = payload or b""
    ll = decode_jpeg_lossless(b)
    if ll is not None:
        # r9: SOF3 lossless — exact samples, no blocks/
        # coefficients/chroma to report (the NULLs are the
        # honest answer, not a refusal: the stream has no
        # DCT domain)
        w, h, img, _prec = ll
        return [(aid, w, h, w * h, int(img.sum()), int(img.min()), int(img.max()))]
    res = decode_jpeg_dc_planes_hv(b)
    if res is not None and len(res[2]) == 3:
        # 3-component DC-only pixel path: 4:4:4 AND the
        # subsampled profiles (r6) — chroma stats are
        # exact in each plane's NATIVE resolution; RGB
        # sums at FULL resolution via the r8 integer
        # upsample + Rec.601 path
        w, h, comps3, hv3 = res
        y, cb, cr = (p.astype(np.int64) for p in comps3)
        nblk = 0
        dcsum = 0
        for p in (y, cb, cr):
            ph, pw = p.shape
            nblk += ((ph + 7) // 8) * ((pw + 7) // 8)
            # each block is a constant plane, so its
            # top-left sample recovers the dequantized dc
            # exactly: dc_dq = (sample - 128) × 8
            dcsum += int((p[::8, ::8] - 128).sum()) * 8
        return [
            (aid, w, h, w * h, int(y.sum()), int(y.min()), int(y.max()),
             nblk, dcsum, 0, 0, 0, int(cb.sum()), int(cr.sum()),
             *rgb_sums(w, h, comps3, hv3))
        ]
    co = decode_jpeg_coeffs(b)
    multi = None
    if co is None:
        # ONE progressive parse serves the single- AND
        # 3-component shapes (decode_jpeg_coeffs_prog
        # used to parse fully just to learn the count)
        prog = _decode_progressive(b)
        if prog is not None:
            comps, (w_, h_), grids, pw, wb, hb = prog
            if len(comps) == 1:
                co = (
                    w_,
                    h_,
                    _dequant_grid(grids[0], comps[0][0], pw[0], wb[0], hb[0]),
                )
            else:
                multi = _multi3_from_prog(prog)
        else:
            multi = _multi3_from_seq(_decode_sequential_multi(b))
    if multi is not None:
        # 3-component AC-bearing profiles: progressive
        # (r6) or SEQUENTIAL interleaved (r7 — the
        # dominant web shape). Exact coefficient stats
        # summed across components; luma stats on the
        # luma plane, chroma sums per native plane, RGB
        # sums at full resolution (r8)
        w, h, arrs, planes, hvm = multi
        allc = np.concatenate(arrs, axis=0)
        ac = np.delete(allc, 0, axis=1)
        y, cb, cr = (p.astype(np.int64) for p in planes)
        return [
            (aid, w, h, int(y.size), int(y.sum()), int(y.min()), int(y.max()),
             int(allc.shape[0]), int(allc[:, 0].sum()), int(ac.sum()),
             int(np.abs(ac).sum()), int((ac != 0).sum()),
             int(cb.sum()), int(cr.sum()), *rgb_sums(w, h, planes, hvm))
        ]
    if co is None:
        return [(aid,)]
    w, h, coefs = co
    # r7: the pixel profile runs the pinned fixed-point
    # integer IDCT on EVERY single-component payload —
    # AC-bearing scans included. On DC-only blocks it
    # reproduces dc + 128 bit-exactly, so the legacy
    # collapse profile is a strict special case.
    bw, bh = (w + 7) // 8, (h + 7) // 8
    px = idct8_fixed(coefs)
    img = px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
    img = img.reshape(bh * 8, bw * 8)[:h, :w]
    ac = np.delete(coefs, 0, axis=1)
    return [
        (aid, w, h, w * h, int(img.sum()), int(img.min()), int(img.max()),
         int(coefs.shape[0]), int(coefs[:, 0].sum()), int(ac.sum()),
         int(np.abs(ac).sum()), int((ac != 0).sum()))
    ]


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

PROFILES = {
    "dc": J.make_jpeg_dc,
    "ycc": J.make_jpeg_ycc,
    "420": lambda a: J.make_jpeg_420(a, dri=a % 2 == 1),
    "411": lambda a: J.make_jpeg_411(a, dri=a % 2 == 1),
    "422": lambda a: J.make_jpeg_422(a, dri=a % 2 == 1),
    "ac": J.make_jpeg_ac,
    "ac16": J.make_jpeg_ac16,
    "progressive": J.make_jpeg_progressive,
    "prog_420": J.make_jpeg_prog_420,
    "420_ac": lambda a: J.make_jpeg_420_ac(a, dri=a % 2 == 1),
    "lossless8": lambda a: J.make_jpeg_lossless(a, 8),
    "lossless16": lambda a: J.make_jpeg_lossless(a, 16),
}

N_IDS = 64
N_MUTATIONS = 2000

DECODERS = (
    "decode_jpeg_dc",
    "decode_jpeg_dc_planes",
    "decode_jpeg_dc_planes_hv",
    "decode_jpeg_dc3",
    "decode_jpeg_coeffs",
    "decode_jpeg_seq_coeffs_multi",
    "decode_jpeg_pixels_seq_multi",
    "decode_jpeg_coeffs_prog",
    "decode_jpeg_coeffs_prog3",
    "decode_jpeg_pixels_prog3",
    "decode_jpeg_pixels",
    "decode_jpeg_rgb",
    "decode_jpeg_lossless",
    "jpeg_full_stats",
)


def _markers(b: bytes) -> list[int]:
    """Positions of the marker segments after SOI (RSTn excluded)."""
    return [
        i
        for i in range(2, len(b) - 1)
        if b[i] == 0xFF
        and b[i + 1] not in (0x00, 0xFF)
        and not 0xD0 <= b[i + 1] <= 0xD7
    ]


def _mutate(rng: random.Random, b: bytes) -> bytes:
    kind = rng.randrange(4)
    if kind == 0:  # byte flips
        out = bytearray(b)
        for _ in range(rng.randint(1, 3)):
            out[rng.randrange(len(out))] ^= rng.randint(1, 255)
        return bytes(out)
    if kind == 1:  # truncation
        return b[: rng.randrange(len(b))]
    marks = _markers(b)
    if kind == 2:  # 0xFF fill bytes before a marker
        i = rng.choice(marks)
        return b[:i] + b"\xff" * rng.randint(1, 3) + b[i:]
    # swap two marker segments (an SOS carries its entropy bytes along)
    cuts = marks + [len(b)]
    k = rng.randrange(len(cuts) - 2)
    j = rng.randrange(k + 1, len(cuts) - 1)
    a, c = b[cuts[k] : cuts[k + 1]], b[cuts[j] : cuts[j + 1]]
    return b[: cuts[k]] + c + b[cuts[k + 1] : cuts[j]] + a + b[cuts[j + 1] :]


def _corpus() -> list[bytes]:
    return [make(a) for make in PROFILES.values() for a in range(N_IDS)]


def _mutations() -> list[bytes]:
    rng = random.Random(20261020)
    bases = [make(a) for make in PROFILES.values() for a in range(8)]
    return [_mutate(rng, rng.choice(bases)) for _ in range(N_MUTATIONS)]


# ---------------------------------------------------------------------------
# Helpers
# ---------------------------------------------------------------------------


def _stats_kernel(monkeypatch):
    """The per-row kernel jpeg_full_stats hands to map_rows."""
    captured = []
    monkeypatch.setattr(J, "map_rows", lambda _df, _schema, fn, *_cols: captured.append(fn))
    J.jpeg_full_stats(None)
    monkeypatch.undo()
    return captured[0]


def _pairs(monkeypatch):
    """(name, replaced decoder, pipeline view) for every public view."""
    kernel = _stats_kernel(monkeypatch)
    out = [(n, globals()[n], getattr(J, n)) for n in DECODERS[:-1]]
    out.append(
        ("jpeg_full_stats", lambda b: old_full_stats(7, b), lambda b: kernel(7, b))
    )
    return out


def _same(a, b) -> bool:
    """None for None; arrays equal in shape, dtype and values;
    sequences elementwise; scalars by ==."""
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return (
            isinstance(a, np.ndarray)
            and isinstance(b, np.ndarray)
            and a.shape == b.shape
            and a.dtype == b.dtype
            and np.array_equal(a, b)
        )
    if isinstance(a, (tuple, list)) or isinstance(b, (tuple, list)):
        return (
            isinstance(a, (tuple, list))
            and isinstance(b, (tuple, list))
            and len(a) == len(b)
            and all(_same(x, y) for x, y in zip(a, b))
        )
    return a == b


def _without_tail(b: bytes, monkeypatch) -> bytes | None:
    """``b`` with whatever lies between the entropy data of its one
    sequential or lossless scan and EOI (0xFF fill bytes, marker
    segments) cut out; None when EOI follows the scan directly. The
    replaced sequential and lossless walks refused any byte there; the
    one walk reads past it the way the replaced progressive walk did,
    so on such inputs the pipeline must equal the oracle on the cut
    payload."""
    ends = []
    split = J._split_entropy

    def spy(data, pos):
        res = split(data, pos)
        if res is not None:
            ends.append(res[1])
        return res

    monkeypatch.setattr(J, "_split_entropy", spy)
    f = J._walk(b)
    monkeypatch.undo()
    if f is None or f.kind == J._SOF2 or len(ends) != 1:
        return None
    if b[ends[0] : ends[0] + 2] == b"\xff\xd9":
        return None
    return b[: ends[0]] + b"\xff\xd9"


# ---------------------------------------------------------------------------
# Tests
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("profile", sorted(PROFILES))
def test_one_walk_per_payload(profile, monkeypatch):
    """Every dispatcher walks a payload's markers exactly once, on
    every synthesized profile (the replaced decoders walked them 5 to 8
    times)."""
    kernel = _stats_kernel(monkeypatch)
    calls = []
    walk = J._walk
    monkeypatch.setattr(J, "_walk", lambda b: calls.append(1) or walk(b))
    entries = {
        "decode_jpeg_rgb": J.decode_jpeg_rgb,
        "_decode_dims": mm._decode_dims,
        "_decode_rgb": mm._decode_rgb,
        "jpeg_full_stats": lambda b: kernel(1, b),
    }
    for a in (1, 2, 5, 12):
        payload = PROFILES[profile](a)
        for name, fn in entries.items():
            calls.clear()
            fn(payload)
            assert len(calls) == 1, (profile, a, name, len(calls))


def test_profiles_match_replaced_decoders(monkeypatch):
    """Every public view gives the oracle's result on every
    synthesized profile over 64 asset ids."""
    pairs = _pairs(monkeypatch)
    for p in _corpus():
        for name, old, new in pairs:
            assert _same(old(p), new(p)), name


def test_mutations_match_replaced_decoders(monkeypatch):
    """On 2,000 seeded mutations no view raises, and every result
    equals the oracle's, except where bytes sit between a sequential
    or lossless scan and EOI: there the result equals the oracle's on
    the payload with those bytes cut out (see _without_tail)."""
    pairs = _pairs(monkeypatch)
    tails = 0
    for p in _mutations():
        cut = None
        for name, old, new in pairs:
            got = new(p)
            if _same(old(p), got):
                continue
            if cut is None:
                cut = _without_tail(p, monkeypatch)
                tails += 1
            assert cut is not None, name
            assert _same(old(cut), got), name
    # the seeded corpus puts fill bytes or a segment after a scan in
    # 87 payloads; every other one agrees with the oracle as it is
    assert tails == 87


def test_dc_view_reads_zrl_then_eob_as_flat_block():
    """A block whose AC data is a ZRL and then EOB has all-zero AC, so
    it is in the DC-only profile. The replaced DC-only loop refused
    any AC symbol but EOB; the DC view of the one decode accepts it,
    and the pixel view agrees with it."""
    dc = J._canonical_codes(J._DC_BITS, J._DC_VALS)
    ac = J._canonical_codes(J._AC_BITS, J._AC_VALS)
    w = J._BitWriter()
    w.put(*dc[3])
    w.put(5, 3)  # dc diff +5
    w.put(*ac[0xF0])  # ZRL: k 1 → 17
    w.put(*ac[0x00])  # EOB
    p = J._container(1, 1, w.flush())
    assert decode_jpeg_dc(p) is None  # the oracle
    img = J.decode_jpeg_dc(p)
    assert img is not None and (img == 5 * J.QUANT_DC // 8 + 128).all()
    assert np.array_equal(img, J.decode_jpeg_pixels(p))
