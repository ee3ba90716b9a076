"""AVI/MJPEG video container (r6): the multimodal pillar's VIDEO
story over real bytes — an AVI 1.0 RIFF container (Microsoft spec:
hdrl/avih/strl/strh/strf headers, movi payload list, idx1 index)
whose frames are Motion-JPEG: each '00dc' chunk is a complete
baseline JFIF image decoded by the in-repo JPEG entropy decoder
(``multimodal.jpeg``). Frame sampling over a video file is therefore
exercised end-to-end: RIFF walk → header parse → per-frame chunk
extraction (word-aligned) → idx1 cross-check → real Huffman decode of
the sampled frames.

Same discipline as the other codecs: spec-valid writer from
arithmetic formulas (mirrored in the oracle SQL), real struct-level
parser with honest refusals, hand-built byte pins in pytest.

Synthesis formulas (mirrored in the oracle):
- dims are constant across a video's frames (as a real video's are):
  bw = 1 + a % JPEG_BW_MOD block columns, bh = 1 + a % JPEG_BH_MOD
  rows → 8·bw × 8·bh pixels;
- frame count nf = VID_NF_BASE + a % VID_NF_MOD;
- frame f's blocks follow the shared JPEG DC formula at the DERIVED
  id a + VID_FM·f: dc(bx, by) = block_dc(a + VID_FM·f, bx, by) —
  every pixel of that block decodes to dc + 128 exactly;
- fps = VID_FPS_BASE + a % VID_FPS_MOD (strh rate over scale 1).
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

from queryengine_spark.multimodal.jpeg import (
    JPEG_BH_MOD,
    JPEG_BW_MOD,
    _container,
    _encode_scan,
    block_dc,
    decode_jpeg_dc,
)
from queryengine_spark.plans import map_rows

VID_NF_BASE, VID_NF_MOD = 2, 4  # 2..5 frames
VID_FM = 17  # per-frame formula offset (the GIF anim pattern)
VID_FPS_BASE, VID_FPS_MOD = 10, 20


def video_params(asset_id: int) -> tuple[int, int, int, int]:
    """(bw, bh, n_frames, fps)."""
    return (
        1 + asset_id % JPEG_BW_MOD,
        1 + asset_id % JPEG_BH_MOD,
        VID_NF_BASE + asset_id % VID_NF_MOD,
        VID_FPS_BASE + asset_id % VID_FPS_MOD,
    )


def frame_jpeg(asset_id: int, f: int) -> bytes:
    """Complete baseline JFIF for frame f — the DC formula at the
    derived id, on the VIDEO's constant block grid."""
    bw, bh, _, _ = video_params(asset_id)
    fid = asset_id + VID_FM * f
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            coefs = [0] * 64
            coefs[0] = block_dc(fid, bx, by)
            blocks.append(coefs)
    return _container(bw, bh, _encode_scan(blocks))


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(listtype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", listtype + body)


def make_avi(asset_id: int) -> bytes:
    """Spec-valid AVI 1.0: hdrl (avih + one 'vids'/'MJPG' strl with
    strh + BITMAPINFOHEADER strf), movi with one word-aligned '00dc'
    chunk per frame, and an idx1 whose entries carry movi-relative
    offsets and true sizes (AVIIF_KEYFRAME — every MJPEG frame is a
    keyframe)."""
    bw, bh, nf, fps = video_params(asset_id)
    w, h = 8 * bw, 8 * bh
    frames = [frame_jpeg(asset_id, f) for f in range(nf)]
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0, 0,
        0x10,  # AVIF_HASINDEX
        nf, 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4h",
        b"vids", b"MJPG",
        0, 0, 0, 0,  # flags, priority, language, initialFrames
        1, fps,  # dwScale, dwRate → fps
        0, nf, 0,  # start, length, suggestedBufferSize
        -1, 0,  # quality (signed, -1 = default), sampleSize
        0, 0, w, h,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = bytearray()
    offsets = []  # movi-relative offsets of each '00dc' fourcc
    for fb in frames:
        offsets.append(4 + len(movi_body))  # after the 'movi' type tag
        movi_body += _chunk(b"00dc", fb)
    movi = _list(b"movi", bytes(movi_body))
    idx = bytearray()
    for off, fb in zip(offsets, frames):
        idx += struct.pack("<4sIII", b"00dc", 0x10, off, len(fb))
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi(
    b: bytes,
) -> tuple[int, int, int, int, list[bytes]] | None:
    """bytes → (width, height, n_frames, fps, mjpeg_frames) or None.
    Walks the RIFF structure properly: header dims/frame-count from
    avih, fps from strh's rate/scale, '00dc' payloads from the movi
    list in stream order honoring word alignment, and — when an idx1
    is present — cross-checks every entry's movi-relative offset and
    size against the frames actually walked (a lying index refuses
    the file rather than trusting either side)."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    (riff_size,) = struct.unpack("<I", b[4:8])
    if 8 + riff_size > len(b):
        return None
    w = h = nf = None
    rate = scale = None
    frames: list[bytes] = []
    offsets: list[tuple[int, int]] = []  # (movi-relative offset, size)
    idx_entries: list[tuple[int, int]] | None = None

    def walk(pos: int, end: int, depth: int) -> bool:
        nonlocal w, h, nf, rate, scale, idx_entries
        while pos + 8 <= end:
            fourcc = b[pos : pos + 4]
            (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            body_start = pos + 8
            if body_start + size > end:
                return False
            if fourcc == b"LIST":
                if size < 4:
                    return False
                ltype = b[body_start : body_start + 4]
                if ltype in (b"hdrl", b"strl", b"movi"):
                    if ltype == b"movi":
                        # record frame chunks relative to this list
                        p = body_start + 4
                        while p + 8 <= body_start + size:
                            cc = b[p : p + 4]
                            (csz,) = struct.unpack("<I", b[p + 4 : p + 8])
                            if p + 8 + csz > body_start + size:
                                return False
                            if cc == b"00dc":
                                frames.append(b[p + 8 : p + 8 + csz])
                                offsets.append((p - body_start, csz))
                            p += 8 + csz + (csz & 1)
                    elif not walk(body_start + 4, body_start + size, depth + 1):
                        return False
            elif fourcc == b"avih":
                if size < 40:
                    return False
                vals = struct.unpack("<10I", b[body_start : body_start + 40])
                nf, w, h = vals[4], vals[8], vals[9]
            elif fourcc == b"strh":
                if size < 36:
                    return False
                fcc_type = b[body_start : body_start + 4]
                if fcc_type == b"vids":
                    scale, rate = struct.unpack(
                        "<II", b[body_start + 20 : body_start + 28]
                    )
            elif fourcc == b"idx1":
                if size % 16:
                    return False
                idx_entries = [
                    struct.unpack("<II", b[p + 8 : p + 16])
                    for p in range(body_start, body_start + size, 16)
                    if b[p : p + 4] == b"00dc"
                ]
            pos = body_start + size + (size & 1)
        return True

    if not walk(12, 8 + riff_size, 0):
        return None
    if w is None or not frames or not rate or not scale:
        return None
    if nf != len(frames):
        return None  # header frame count must match the stream
    if idx_entries is not None and idx_entries != offsets:
        return None  # the index must agree with the walked chunks
    return int(w), int(h), int(nf), int(rate // scale), frames


AVI_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_lum", LongType()),
    ]
)


def synthesize_avi(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    return map_rows(ids, AVI_ASSET_SCHEMA, lambda a: [(a, make_avi(a))], id_col)


def video_frame_stats(assets: DataFrame, stride: int = 2) -> DataFrame:
    """Parse each AVI, sample frames f % stride == 0, REALLY decode
    each sampled MJPEG frame (canonical-Huffman JPEG scan), and emit
    one row per sampled frame with its exact luminance sum. The
    unsampled frames' bytes are walked but never entropy-decoded —
    the chunk index is what a video pipeline seeks with."""

    return sampled_frame_stats(assets, parse_avi, stride)


def sampled_frame_stats(assets: DataFrame, parse, stride: int) -> DataFrame:
    """One VIDEO_FRAME_SCHEMA row per decodable sampled frame of every
    container ``parse`` understands (it returns ``(w, h, n_frames,
    fps, frame_payloads)`` or None) — shared by the AVI and MP4 legs."""

    def sampled(aid, payload):
        parsed = parse(payload) if payload is not None else None
        if parsed is None:
            return
        w, h, nf, fps, frames = parsed
        for f, fb in enumerate(frames):
            if f % stride:
                continue
            img = decode_jpeg_dc(fb)
            if img is None or img.shape != (h, w):
                continue
            yield aid, f, nf, fps, w, h, int(img.astype(np.int64).sum())

    return map_rows(assets, VIDEO_FRAME_SCHEMA, sampled, "asset_id", "payload")
