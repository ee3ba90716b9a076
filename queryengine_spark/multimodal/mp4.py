"""MP4 / ISO-BMFF video container (r10): the mainstream container a
real multimodal corpus carries, beside the AVI/MJPEG leg
(``multimodal/avi.py``). ISO/IEC 14496-12 box grammar: ftyp, mdat
(sample payloads), and a moov whose trak/mdia/minf/stbl subtree
carries the sample tables a player actually seeks with — stsd
(sample description), stts (decode timing), stsc (sample→chunk
mapping), stsz (sample sizes), stco (chunk offsets). Samples are
Motion-JPEG: each is a complete baseline JFIF image decoded by the
in-repo JPEG entropy decoder, so frame sampling over an MP4 is
exercised end-to-end: box walk → sample-table resolution (the
stsc/stco/stsz three-way join done by arithmetic) → byte-span slice
out of mdat → real Huffman decode of the sampled frames.

Same discipline as the other codecs: spec-valid writers from
arithmetic formulas (mirrored in the oracle SQL) for BOTH layout
families — progressive (stbl sample tables) and, since r10,
FRAGMENTED (moof/traf/trun with trex defaults, the DASH/live form) —
a real struct-level parser with honest refusals (non-MJPEG sample
entries like avc1, variable frame durations, composition offsets —
never a guessed decode), hand-built byte pins in pytest. Since r11
BOTH r10 fragmented-mode refusals are closed: legacy implicit traf
base addressing (pre-iso5 captures) decodes via the §8.8.7 moof-
start default, and HYBRID files carrying a moov-resident sample
prefix plus fragments resolve the prefix through the progressive
walk before the fragment timeline continues.

Synthesis formulas (mirrored in the oracle):
- dims are constant across a video's frames: bw = 1 + a %
  JPEG_BW_MOD block columns, bh = 1 + a % JPEG_BH_MOD rows →
  8·bw × 8·bh pixels (the shared JPEG grid formula);
- frame count nf = MP4_NF_BASE + a % MP4_NF_MOD;
- frame f's blocks follow the shared JPEG DC formula at the DERIVED
  id a + MP4_FM·f (a DISTINCT per-frame multiplier from the AVI
  leg's VID_FM, so a cross-wired container walk cannot match);
- fps = MP4_FPS_BASE + a % MP4_FPS_MOD; the mdhd timescale is
  100·fps with a constant stts delta of 100, so fps = timescale /
  delta exactly in integers;
- samples pack TWO PER CHUNK (last chunk may hold one), so the
  stsc table really has to be walked — a parser that assumes one
  sample per chunk reads garbage offsets for every odd sample.

Reference scope note: the reference engine (rickbeeloo/QueryEngine,
src/heurFuzz.py) has no media code; video ingestion is part of the
multimodal pillar this repo adds beyond the reference.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from queryengine_spark.multimodal.avi import AVI_ASSET_SCHEMA, sampled_frame_stats
from queryengine_spark.multimodal.jpeg import (
    JPEG_BH_MOD,
    JPEG_BW_MOD,
    _container,
    _encode_scan,
    block_dc,
)
from queryengine_spark.plans import map_rows

MP4_NF_BASE, MP4_NF_MOD = 2, 5  # 2..6 frames
MP4_FM = 29  # per-frame formula offset (distinct from avi.VID_FM)
MP4_FPS_BASE, MP4_FPS_MOD = 12, 18
MP4_TS_MULT = 100  # mdhd timescale = MP4_TS_MULT * fps; stts delta = MP4_TS_MULT
_SAMPLES_PER_CHUNK = 2


def mp4_video_params(asset_id: int) -> tuple[int, int, int, int]:
    """(bw, bh, n_frames, fps)."""
    return (
        1 + asset_id % JPEG_BW_MOD,
        1 + asset_id % JPEG_BH_MOD,
        MP4_NF_BASE + asset_id % MP4_NF_MOD,
        MP4_FPS_BASE + asset_id % MP4_FPS_MOD,
    )


def mp4_frame_jpeg(asset_id: int, f: int) -> bytes:
    """Complete baseline JFIF for frame f — the DC formula at the
    derived id, on the VIDEO's constant block grid."""
    bw, bh, _, _ = mp4_video_params(asset_id)
    fid = asset_id + MP4_FM * f
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            coefs = [0] * 64
            coefs[0] = block_dc(fid, bx, by)
            blocks.append(coefs)
    return _container(bw, bh, _encode_scan(blocks))


# ---------------------------------------------------------------- box writers
def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _full(typ: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(typ, struct.pack(">I", (version << 24) | flags) + body)


def make_mp4(asset_id: int) -> bytes:
    """Spec-valid progressive ISO-BMFF MP4, moov AFTER mdat (the
    classic non-faststart layout — stco offsets are absolute file
    offsets into the already-written mdat): ftyp('isom'), one mdat
    holding the MJPEG samples chunked two-per-chunk, and a moov with
    mvhd + one video trak (tkhd, mdhd at timescale 100·fps, 'vide'
    hdlr, vmhd/dinf/dref, and the full stbl: a 'jpeg'
    VisualSampleEntry stsd, single-entry stts at delta 100, the
    two-per-chunk stsc (two entries when nf is odd), per-sample
    stsz, and per-chunk stco)."""
    bw, bh, nf, fps = mp4_video_params(asset_id)
    w, h = 8 * bw, 8 * bh
    frames = [mp4_frame_jpeg(asset_id, f) for f in range(nf)]

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat_payload = b"".join(frames)
    mdat = _box(b"mdat", mdat_payload)

    # chunk layout: samples two-per-chunk in decode order
    chunk_sizes: list[list[int]] = [
        [len(fb) for fb in frames[i : i + _SAMPLES_PER_CHUNK]]
        for i in range(0, nf, _SAMPLES_PER_CHUNK)
    ]
    mdat_payload_off = len(ftyp) + 8  # absolute offset of mdat payload
    chunk_offsets = []
    acc = mdat_payload_off
    for sizes in chunk_sizes:
        chunk_offsets.append(acc)
        acc += sum(sizes)

    timescale = MP4_TS_MULT * fps
    duration = MP4_TS_MULT * nf

    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)  # ctime mtime ts dur
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = _full(
        b"tkhd", 0, 3,  # enabled + in-movie
        struct.pack(">IIIII", 0, 0, 1, 0, duration)  # times, track 1, rsvd
        + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)  # layer, alt_group, volume, rsvd
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed dims
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', pre_defined
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I4s", 0, b"vide") + b"\x00" * 12 + b"VideoHandler\x00",
    )
    # VisualSampleEntry 'jpeg' (14496-12 §12.1.3): 6 reserved + dref
    # index, 16 pre/reserved bytes, dims, 72dpi, frame_count 1,
    # 32-byte compressorname, depth 24, pre_defined -1
    stsd_entry = _box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 24, -1),
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, nf, MP4_TS_MULT))
    stsc_entries = [(1, _SAMPLES_PER_CHUNK, 1)]
    if chunk_sizes and len(chunk_sizes[-1]) != _SAMPLES_PER_CHUNK:
        stsc_entries.append((len(chunk_sizes), len(chunk_sizes[-1]), 1))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, nf)
        + b"".join(struct.pack(">I", len(fb)) for fb in frames),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", len(chunk_offsets))
        + b"".join(struct.pack(">I", off) for off in chunk_offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


# ----------------------------------------------------------------- box parser
def _walk_boxes(b: bytes, pos: int, end: int):
    """Yield (type, body_start, body_end) for each box in [pos, end);
    raises ValueError on structural violations (size 1 → 64-bit
    largesize per 14496-12 §4.2; size 0 → box extends to the end of
    the enclosing container)."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        (size,) = struct.unpack_from(">I", b, pos)
        typ = b[pos + 8 - 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize")
            (size,) = struct.unpack_from(">Q", b, pos + 8)
            body = pos + 16
            if size < 16:
                raise ValueError("bad largesize")
            box_end = pos + size
        elif size == 0:
            box_end = end
        else:
            if size < 8:
                raise ValueError("bad box size")
            box_end = pos + size
        if box_end > end:
            raise ValueError("box overruns container")
        yield typ, body, box_end
        pos = box_end


def _find(b: bytes, pos: int, end: int, typ: bytes) -> tuple[int, int] | None:
    for t, s, e in _walk_boxes(b, pos, end):
        if t == typ:
            return s, e
    return None


def _parse_fragments(
    b: bytes,
    top: list,
    mdats: list[tuple[int, int]],
    mvex_span: tuple[int, int] | None,
    track_id: int,
    timescale: int,
    init_frames: list[bytes] | None = None,
    init_delta: int | None = None,
) -> tuple[int, int, list[bytes]] | None:
    """Movie-fragment walk (14496-12 §8.8): trex defaults out of the
    moov's mvex, then every top-level moof in file order — ascending
    mfhd sequence numbers, ONE traf (single-track writer), tfhd with
    default-base-is-moof, an explicit base-data-offset, or (r11) the
    legacy IMPLICIT base — for the first traf of a moof the spec
    default is the first byte of the enclosing moof, identical to
    default-base-is-moof under this single-traf contract — and
    trun(s) with mandatory data offsets and per-sample or defaulted
    sizes/durations. Every sample span must lie inside an mdat.
    ``init_frames``/``init_delta`` carry moov-resident samples of a
    HYBRID file (r11): the fragment timeline continues after them,
    so each tfdt must account for the progressive prefix. Returns
    (n_samples, fps, frames) with the prefix included, or None."""
    if mvex_span is None:
        return None  # moofs without an mvex announcement: malformed
    trex = _find(b, mvex_span[0], mvex_span[1], b"trex")
    if trex is None or trex[1] - trex[0] < 24:
        return None
    _vf, tx_tid, _sdi, tx_dur, tx_size, _fl = struct.unpack_from(
        ">6I", b, trex[0]
    )
    if tx_tid != track_id:
        return None
    moofs = [(s, e) for t, s, e in top if t == b"moof"]
    if not moofs:
        return None
    frames: list[bytes] = list(init_frames or [])
    delta = init_delta
    expected_seq = 1
    for mf_s, mf_e in moofs:
        moof_start = mf_s - 8  # box header (moofs are never largesize)
        try:
            kids = list(_walk_boxes(b, mf_s, mf_e))
        except ValueError:
            return None
        mfhd = [(s, e) for t, s, e in kids if t == b"mfhd"]
        trafs = [(s, e) for t, s, e in kids if t == b"traf"]
        if len(mfhd) != 1 or len(trafs) != 1:
            return None
        (seq,) = struct.unpack_from(">I", b, mfhd[0][0] + 4)
        if seq != expected_seq:
            return None  # out-of-order / duplicated fragment
        expected_seq += 1
        try:
            tkids = list(_walk_boxes(b, trafs[0][0], trafs[0][1]))
        except ValueError:
            return None
        tfhds = [(s, e) for t, s, e in tkids if t == b"tfhd"]
        tfdts = [(s, e) for t, s, e in tkids if t == b"tfdt"]
        truns = [(s, e) for t, s, e in tkids if t == b"trun"]
        if len(tfhds) != 1 or not truns or len(tfdts) > 1:
            return None
        if tfdts:
            # tfdt (§8.8.12): baseMediaDecodeTime must equal the
            # running duration of every sample already walked — a
            # fragment pasted out of order (or with a lying clock)
            # refuses even when its mfhd sequence was also forged
            td_s, td_e = tfdts[0]
            tver_ = b[td_s]
            if tver_ == 1:
                if td_s + 12 > td_e:
                    return None
                (base_time,) = struct.unpack_from(">Q", b, td_s + 4)
            else:
                if td_s + 8 > td_e:
                    return None
                (base_time,) = struct.unpack_from(">I", b, td_s + 4)
            if delta is not None and base_time != len(frames) * delta:
                return None
            if delta is None and base_time != 0:
                return None
        th_s, th_e = tfhds[0]
        (vf,) = struct.unpack_from(">I", b, th_s)
        tf_flags = vf & 0xFFFFFF
        (tf_tid,) = struct.unpack_from(">I", b, th_s + 4)
        if tf_tid != track_id:
            return None
        p = th_s + 8
        base = None
        if tf_flags & 0x000001:  # base-data-offset-present
            (base,) = struct.unpack_from(">Q", b, p)
            p += 8
        if tf_flags & 0x000002:  # sample-description-index
            p += 4
        def_dur = tx_dur or None
        if tf_flags & 0x000008:
            (def_dur,) = struct.unpack_from(">I", b, p)
            p += 4
        def_size = tx_size or None
        if tf_flags & 0x000010:
            (def_size,) = struct.unpack_from(">I", b, p)
            p += 4
        if tf_flags & 0x000020:  # default-sample-flags
            p += 4
        if p > th_e:
            return None
        if tf_flags & 0x020000:  # default-base-is-moof
            if base is not None:
                return None  # both addressing modes at once
            base = moof_start
        if base is None:
            # legacy implicit addressing (14496-12 §8.8.7): for the
            # FIRST (and under this contract only) traf of a moof the
            # default base-data-offset is the first byte of the
            # enclosing moof — what pre-iso5 DASH/CMAF captures carry
            # (r10 refusal closed in r11)
            base = moof_start
        for tr_s, tr_e in truns:
            (tvf,) = struct.unpack_from(">I", b, tr_s)
            tr_ver, tr_flags = tvf >> 24, tvf & 0xFFFFFF
            if tr_ver != 0 or tr_flags & 0x000800:
                return None  # composition offsets: MJPEG has none
            if not tr_flags & 0x000001:
                return None  # data offset required for byte-exact spans
            (n_s,) = struct.unpack_from(">I", b, tr_s + 4)
            (doff,) = struct.unpack_from(">i", b, tr_s + 8)
            q = tr_s + 12
            if tr_flags & 0x000004:  # first-sample-flags
                q += 4
            pos = base + doff
            for _ in range(n_s):
                dur = def_dur
                if tr_flags & 0x000100:
                    (dur,) = struct.unpack_from(">I", b, q)
                    q += 4
                size = def_size
                if tr_flags & 0x000200:
                    (size,) = struct.unpack_from(">I", b, q)
                    q += 4
                if tr_flags & 0x000400:  # sample-flags
                    q += 4
                if q > tr_e or not size or not dur:
                    return None
                if delta is None:
                    delta = dur
                elif dur != delta:
                    return None  # variable frame durations: refuse
                end = pos + size
                if not any(ms <= pos and end <= me for ms, me in mdats):
                    return None
                frames.append(b[pos:end])
                pos = end
    if delta is None or timescale % delta:
        return None
    return len(frames), timescale // delta, frames


def make_mp4_fragmented(asset_id: int, legacy_base: bool = False) -> bytes:
    """Spec-valid FRAGMENTED MP4 (r10 — the DASH/live form): ftyp,
    a sample-less moov (empty stbl tables + mvex/trex defaults:
    duration MP4_TS_MULT, size 0 → trun carries sizes), then one
    [moof + mdat] pair per TWO frames — mfhd sequence numbers from
    1, tfhd with default-base-is-moof (or, with ``legacy_base``,
    NO addressing flag at all — the pre-iso5 implicit mode whose
    spec default for a moof's first traf is the moof's own first
    byte, r11), a single trun with data-offset + sample-size flags
    whose offset points past the following mdat header. Same frames
    as make_mp4, so the media suite's formula oracle is
    container-agnostic."""
    bw, bh, nf, fps = mp4_video_params(asset_id)
    w, h = 8 * bw, 8 * bh
    frames = [mp4_frame_jpeg(asset_id, f) for f in range(nf)]
    timescale = MP4_TS_MULT * fps
    duration = MP4_TS_MULT * nf

    ftyp = _box(
        b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2iso5mp41"
    )
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _full(
        b"tkhd", 0, 3,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I4s", 0, b"vide") + b"\x00" * 12 + b"VideoHandler\x00",
    )
    stsd_entry = _box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 24, -1),
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry)
    # empty sample tables: samples live in the fragments
    stts = _full(b"stts", 0, 0, struct.pack(">I", 0))
    stsc = _full(b"stsc", 0, 0, struct.pack(">I", 0))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
    stco = _full(b"stco", 0, 0, struct.pack(">I", 0))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    trex = _full(
        b"trex", 0, 0, struct.pack(">IIIII", 1, 1, MP4_TS_MULT, 0, 0)
    )
    mvex = _box(b"mvex", trex)
    moov = _box(b"moov", mvhd + mvex + trak)

    out = bytearray(ftyp + moov)
    seq = 1
    for i in range(0, nf, _SAMPLES_PER_CHUNK):
        chunk = frames[i : i + _SAMPLES_PER_CHUNK]
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", seq))
        seq += 1
        tfhd = _full(
            b"tfhd", 0, 0x000000 if legacy_base else 0x020000,
            struct.pack(">I", 1),
        )
        # tfdt v1 (14496-12 §8.8.12): baseMediaDecodeTime = samples
        # already emitted × the constant delta — what DASH players
        # seek with; the parser validates the running total
        tfdt = _full(
            b"tfdt", 1, 0, struct.pack(">Q", i * MP4_TS_MULT)
        )
        trun = _full(
            b"trun", 0, 0x000201,
            struct.pack(">Ii", len(chunk), 0)  # offset patched below
            + b"".join(struct.pack(">I", len(fb)) for fb in chunk),
        )
        traf = _box(b"traf", tfhd + tfdt + trun)
        moof = bytearray(_box(b"moof", mfhd + traf))
        # trun data_offset field: moof hdr(8) + mfhd + traf hdr(8) +
        # tfhd + tfdt + trun hdr(8) + verflags(4) + count(4)
        doff_at = 8 + len(mfhd) + 8 + len(tfhd) + len(tfdt) + 8 + 4 + 4
        struct.pack_into(">i", moof, doff_at, len(moof) + 8)
        out += moof + _box(b"mdat", b"".join(chunk))
    return bytes(out)


def make_mp4_hybrid(asset_id: int) -> bytes:
    """Spec-valid HYBRID MP4 (r11 — faststart init + DASH tail, the
    r10 refusal's real-world shape): frame 0 lives in the moov's OWN
    sample tables (one-run stts, one-chunk stsc/stco, one-entry
    stsz) backed by a leading mdat, the moov still carries mvex/trex,
    and frames 1.. follow as [moof + mdat] fragments two per moof
    whose tfdt baseMediaDecodeTime accounts for the moov-resident
    prefix. Same frames as make_mp4, so the formula oracle stays
    container-agnostic."""
    bw, bh, nf, fps = mp4_video_params(asset_id)
    w, h = 8 * bw, 8 * bh
    frames = [mp4_frame_jpeg(asset_id, f) for f in range(nf)]
    timescale = MP4_TS_MULT * fps
    duration = MP4_TS_MULT * nf

    ftyp = _box(
        b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2iso5mp41"
    )
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _full(
        b"tkhd", 0, 3,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I4s", 0, b"vide") + b"\x00" * 12 + b"VideoHandler\x00",
    )
    stsd_entry = _box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 24, -1),
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry)

    def moov_bytes(frame0_off: int) -> bytes:
        # moov-resident prefix: exactly frame 0, one sample per chunk
        stts = _full(b"stts", 0, 0, struct.pack(">III", 1, 1, MP4_TS_MULT))
        stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, 1, 1))
        stsz = _full(
            b"stsz", 0, 0, struct.pack(">III", 0, 1, len(frames[0]))
        )
        stco = _full(b"stco", 0, 0, struct.pack(">II", 1, frame0_off))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        dref = _full(
            b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")
        )
        dinf = _box(b"dinf", dref)
        minf = _box(b"minf", vmhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        trex = _full(
            b"trex", 0, 0, struct.pack(">IIIII", 1, 1, MP4_TS_MULT, 0, 0)
        )
        mvex = _box(b"mvex", trex)
        return _box(b"moov", mvhd + mvex + trak)

    # stco's absolute offset depends on the moov's own size — the
    # size is offset-independent, so one sizing pass then the real one
    moov_size = len(moov_bytes(0))
    frame0_off = len(ftyp) + moov_size + 8  # mdat payload start
    out = bytearray(ftyp + moov_bytes(frame0_off) + _box(b"mdat", frames[0]))

    seq = 1
    for i in range(1, nf, _SAMPLES_PER_CHUNK):
        chunk = frames[i : i + _SAMPLES_PER_CHUNK]
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", seq))
        seq += 1
        tfhd = _full(b"tfhd", 0, 0x020000, struct.pack(">I", 1))
        tfdt = _full(b"tfdt", 1, 0, struct.pack(">Q", i * MP4_TS_MULT))
        trun = _full(
            b"trun", 0, 0x000201,
            struct.pack(">Ii", len(chunk), 0)
            + b"".join(struct.pack(">I", len(fb)) for fb in chunk),
        )
        traf = _box(b"traf", tfhd + tfdt + trun)
        moof = bytearray(_box(b"moof", mfhd + traf))
        doff_at = 8 + len(mfhd) + 8 + len(tfhd) + len(tfdt) + 8 + 4 + 4
        struct.pack_into(">i", moof, doff_at, len(moof) + 8)
        out += moof + _box(b"mdat", b"".join(chunk))
    return bytes(out)


def parse_mp4(
    b: bytes,
) -> tuple[int, int, int, int, list[bytes]] | None:
    """Guarded entry: every leaf-box field read below uses
    struct.unpack_from, and a truncated/corrupt body (e.g. a
    zero-length stco at EOF) raises struct.error — which is NOT a
    ValueError and would otherwise escape into the Spark task (r10
    ADVICE). Normalize every short read to the documented None
    refusal here rather than bounds-checking each of the dozens of
    leaf reads individually."""
    try:
        return _parse_mp4_strict(b)
    except struct.error:
        return None


def _parse_mp4_strict(
    b: bytes,
) -> tuple[int, int, int, int, list[bytes]] | None:
    """bytes → (width, height, n_frames, fps, mjpeg_frames) or None.
    Validates the ftyp brand, walks moov → trak → mdia → minf →
    stbl, and resolves every sample's byte span — for PROGRESSIVE
    files through the REAL stsc/stco(co64)/stsz arithmetic
    (two-per-chunk layouts force the walk), for FRAGMENTED files
    (r10 — the DASH/live form: moof present, or an mvex announcing
    one) through the moof/traf/trun walk with trex defaults,
    ascending mfhd sequence numbers, and default-base-is-moof,
    explicit base-data-offset, or (r11) legacy implicit base
    addressing. HYBRID files carrying both moov-resident samples
    and fragments (faststart init + DASH tail) resolve the
    progressive prefix first and let the fragment timeline continue
    after it (r11 — both r10 refusals closed). Cross-checks
    stts/trun sample counts, tfdt running time, mdat containment of
    every span, and the stsd/tkhd dimension agreement. Honest
    refusals: non-MJPEG sample entries (avc1/hev1/mp4v/…), multiple
    video tracks or trafs, variable frame durations,
    composition-time offsets, and any structural violation — None,
    never a guess."""
    if len(b) < 16:
        return None
    try:
        top = list(_walk_boxes(b, 0, len(b)))
    except ValueError:
        return None
    if not top or top[0][0] != b"ftyp":
        return None
    ft_s, ft_e = top[0][1], top[0][2]
    if ft_e - ft_s < 8 or b[ft_s : ft_s + 4] not in (b"isom", b"mp41", b"mp42"):
        return None
    moov = [(s, e) for t, s, e in top if t == b"moov"]
    mdats = [(s, e) for t, s, e in top if t == b"mdat"]
    if len(moov) != 1 or not mdats:
        return None
    mv_s, mv_e = moov[0]
    try:
        moov_children = list(_walk_boxes(b, mv_s, mv_e))
        mvex = [(s, e) for t, s, e in moov_children if t == b"mvex"]
        fragmented = bool(mvex) or any(t == b"moof" for t, _, _ in top)
        traks = [(s, e) for t, s, e in moov_children if t == b"trak"]
        video = None
        for tk_s, tk_e in traks:
            mdia = _find(b, tk_s, tk_e, b"mdia")
            if mdia is None:
                return None
            hdlr = _find(b, mdia[0], mdia[1], b"hdlr")
            if hdlr is None:
                return None
            if b[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
                continue
            if video is not None:
                return None  # multiple video tracks: unsupported
            video = (tk_s, tk_e, mdia)
        if video is None:
            return None
        tk_s, tk_e, mdia = video
        tkhd = _find(b, tk_s, tk_e, b"tkhd")
        mdhd = _find(b, mdia[0], mdia[1], b"mdhd")
        minf = _find(b, mdia[0], mdia[1], b"minf")
        if tkhd is None or mdhd is None or minf is None:
            return None
        stbl = _find(b, minf[0], minf[1], b"stbl")
        if stbl is None:
            return None
        boxes = {}
        for t, s, e in _walk_boxes(b, stbl[0], stbl[1]):
            boxes[t] = (s, e)
    except ValueError:
        return None

    # tkhd (v0): dims at the tail as 16.16 fixed
    th_s, th_e = tkhd
    tver = b[th_s]
    if th_e - th_s < (96 if tver == 1 else 84):
        return None
    tw, th_ = struct.unpack_from(">II", b, th_e - 8)
    if tw & 0xFFFF or th_ & 0xFFFF:
        return None  # fractional display dims: not this writer's contract
    w, h = tw >> 16, th_ >> 16

    # mdhd: timescale (v0 at +12, v1 at +20)
    md_s, md_e = mdhd
    mver = b[md_s]
    ts_off = md_s + 4 + (16 if mver == 1 else 8)
    if ts_off + 4 > md_e:
        return None
    (timescale,) = struct.unpack_from(">I", b, ts_off)
    if not timescale:
        return None

    if b"stsd" not in boxes:
        return None

    # stsd: exactly one sample entry, and it must be MJPEG
    sd_s, sd_e = boxes[b"stsd"]
    if sd_e - sd_s < 16:
        return None
    (n_entries,) = struct.unpack_from(">I", b, sd_s + 4)
    if n_entries != 1:
        return None
    fmt = b[sd_s + 12 : sd_s + 16]
    if fmt != b"jpeg":
        return None  # avc1/hev1/mp4v/…: no decoder here — refuse
    if sd_e - sd_s >= 16 + 78:  # VisualSampleEntry dims cross-check
        sw, sh = struct.unpack_from(">HH", b, sd_s + 8 + 8 + 24)
        if (sw, sh) != (w, h):
            return None

    if fragmented:
        # moov-resident sample tables: empty in a pure-fragmented
        # file; NON-empty means a HYBRID (faststart init segment +
        # fragments — r10's refusal, closed in r11): resolve the
        # progressive prefix through the same stbl walk, then let the
        # fragment timeline continue after it. co64 participates in
        # the emptiness gate alongside stco (r10 ADVICE).
        counts = {}
        for tag, cnt_at in (
            (b"stts", 4), (b"stsc", 4), (b"stsz", 8),
            (b"stco", 4), (b"co64", 4),
        ):
            if tag in boxes:
                x_s, x_e = boxes[tag]
                if x_s + cnt_at + 4 > x_e:
                    return None
                (cnt,) = struct.unpack_from(">I", b, x_s + cnt_at)
                counts[tag] = cnt
        init_frames: list[bytes] = []
        init_delta = None
        if any(counts.values()):
            resolved = _resolve_stbl_samples(b, boxes, mdats, timescale)
            if resolved is None:
                return None
            init_frames, init_delta = resolved
        # track id: tkhd v0 at +8 past verflags, v1 at +16
        tid_off = th_s + 4 + (16 if tver == 1 else 8)
        (track_id,) = struct.unpack_from(">I", b, tid_off)
        frag = _parse_fragments(b, top, mdats, mvex[0] if mvex else None,
                                track_id, timescale, init_frames, init_delta)
        if frag is None:
            return None
        n_samples, fps, frames = frag
        return int(w), int(h), int(n_samples), int(fps), frames

    resolved = _resolve_stbl_samples(b, boxes, mdats, timescale)
    if resolved is None:
        return None
    frames, delta = resolved
    return int(w), int(h), len(frames), int(timescale // delta), frames


def _resolve_stbl_samples(
    b: bytes,
    boxes: dict[bytes, tuple[int, int]],
    mdats: list[tuple[int, int]],
    timescale: int,
) -> tuple[list[bytes], int] | None:
    """Progressive sample resolution: the real stts/stsc/stsz/
    st{co,co64} three-way arithmetic shared by plain-progressive
    files and the moov-resident prefix of hybrid files (r11).
    Returns (frames, stts_delta) or None."""
    for need in (b"stts", b"stsc", b"stsz"):
        if need not in boxes:
            return None
    if (b"stco" in boxes) == (b"co64" in boxes):
        return None  # exactly one chunk-offset table (14496-12 §8.7.5)

    # stts: total sample count + the constant delta (variable frame
    # durations refuse — MJPEG writers emit one run)
    st_s, st_e = boxes[b"stts"]
    (n_runs,) = struct.unpack_from(">I", b, st_s + 4)
    if st_s + 8 + 8 * n_runs > st_e or not n_runs:
        return None
    total = 0
    delta = None
    for i in range(n_runs):
        cnt, d = struct.unpack_from(">II", b, st_s + 8 + 8 * i)
        total += cnt
        if delta is None:
            delta = d
        elif d != delta:
            return None
    if not delta or timescale % delta:
        return None

    # stsz: per-sample sizes (or the uniform-size fast path)
    sz_s, sz_e = boxes[b"stsz"]
    uniform, n_samples = struct.unpack_from(">II", b, sz_s + 4)
    if n_samples != total:
        return None
    if uniform:
        sizes = [uniform] * n_samples
    else:
        if sz_s + 12 + 4 * n_samples > sz_e:
            return None
        sizes = list(struct.unpack_from(f">{n_samples}I", b, sz_s + 12))

    # chunk offsets: 32-bit stco or 64-bit co64 (the >4 GB form real
    # crawl-scale MP4s carry — a reader lacking co64 refuses every
    # large file)
    if b"stco" in boxes:
        co_s, co_e = boxes[b"stco"]
        width, fmt_ch = 4, "I"
    else:
        co_s, co_e = boxes[b"co64"]
        width, fmt_ch = 8, "Q"
    (n_chunks,) = struct.unpack_from(">I", b, co_s + 4)
    if co_s + 8 + width * n_chunks > co_e or not n_chunks:
        return None
    offsets = list(struct.unpack_from(f">{n_chunks}{fmt_ch}", b, co_s + 8))

    # stsc: expand (first_chunk, samples_per_chunk) runs over the
    # real chunk count
    sc_s, sc_e = boxes[b"stsc"]
    (n_sc,) = struct.unpack_from(">I", b, sc_s + 4)
    if sc_s + 8 + 12 * n_sc > sc_e or not n_sc:
        return None
    runs = [
        struct.unpack_from(">III", b, sc_s + 8 + 12 * i) for i in range(n_sc)
    ]
    if runs[0][0] != 1 or any(r[2] != 1 for r in runs):
        return None
    per_chunk = []
    for i, (first, spc, _) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < len(runs) else n_chunks
        if first > last:
            return None
        per_chunk += [spc] * (last - first + 1)
    if len(per_chunk) != n_chunks or sum(per_chunk) != n_samples:
        return None

    # resolve each sample's absolute span; every span must lie inside
    # an mdat payload (a lying stco refuses the file)
    frames: list[bytes] = []
    si = 0
    for ci, spc in enumerate(per_chunk):
        pos = offsets[ci]
        for _ in range(spc):
            end = pos + sizes[si]
            if not any(ms <= pos and end <= me for ms, me in mdats):
                return None
            frames.append(b[pos:end])
            pos = end
            si += 1
    return frames, delta


# ------------------------------------------------------------------ Spark ops
def synthesize_mp4(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """Container-flavor residue map (mod 16): 3/11 → FRAGMENTED with
    default-base-is-moof (r10), 7 → fragmented with LEGACY implicit
    base addressing (r11), 15 → HYBRID moov-prefix + fragments
    (r11), the rest progressive. Same frames throughout, so the
    formula oracle is container-agnostic and the driver hash
    certifies all four sample-addressing paths."""

    def _make(v: int) -> bytes:
        r = v % 16
        if r == 7:
            return make_mp4_fragmented(v, legacy_base=True)
        if r == 15:
            return make_mp4_hybrid(v)
        if r % 4 == 3:
            return make_mp4_fragmented(v)
        return make_mp4(v)

    return map_rows(ids, AVI_ASSET_SCHEMA, lambda a: [(a, _make(a))], id_col)


def mp4_frame_stats(assets: DataFrame, stride: int = 2) -> DataFrame:
    """Parse each MP4, sample frames f % stride == 0, REALLY decode
    each sampled MJPEG frame, and emit one row per sampled frame with
    its exact luminance sum — the MP4 twin of
    ``avi.video_frame_stats`` (same output schema, so the media
    suite folds both video legs on one padded shape)."""

    return sampled_frame_stats(assets, parse_mp4, stride)
