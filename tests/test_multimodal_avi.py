"""AVI/MJPEG container (multimodal/avi.py): parser pinned against the
writer's layout plus hand-mutated byte probes — the lying-index,
truncation, and header-mismatch cases a real corpus contains."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from queryengine_spark.multimodal.avi import (
    VID_FM,
    frame_jpeg,
    make_avi,
    parse_avi,
    video_params,
)
from queryengine_spark.multimodal.jpeg import block_dc, decode_jpeg_dc


@pytest.mark.parametrize("a", list(range(12)))
def test_roundtrip_matches_formula(a):
    bw, bh, nf, fps = video_params(a)
    parsed = parse_avi(make_avi(a))
    assert parsed is not None
    w, h, nf2, fps2, frames = parsed
    assert (w, h, nf2, fps2) == (8 * bw, 8 * bh, nf, fps)
    assert len(frames) == nf
    for f, fb in enumerate(frames):
        img = decode_jpeg_dc(fb)
        assert img is not None and img.shape == (h, w), (a, f)
        exp = sum(
            64 * (block_dc(a + VID_FM * f, bx, by) + 128)
            for by in range(bh)
            for bx in range(bw)
        )
        assert int(img.astype(np.int64).sum()) == exp, (a, f)


def test_frames_are_complete_jfif():
    for f in range(3):
        fb = frame_jpeg(4, f)
        assert fb[:2] == b"\xff\xd8" and fb[-2:] == b"\xff\xd9"


def test_word_alignment_exercised():
    """At least one asset must produce an odd-sized frame chunk so
    the movi walk's word-alignment path genuinely runs."""
    assert any(
        len(frame_jpeg(a, f)) % 2 == 1
        for a in range(12)
        for f in range(video_params(a)[2])
    )


def _find(b: bytes, fourcc: bytes) -> int:
    i = b.find(fourcc)
    assert i > 0, fourcc
    return i


def test_refusals():
    base = make_avi(5)
    # not RIFF / not AVI
    assert parse_avi(b"XXXX" + base[4:]) is None
    assert parse_avi(base[:8] + b"WAVE" + base[12:]) is None
    # truncated mid-movi
    movi = _find(base, b"movi")
    assert parse_avi(base[: movi + 30]) is None
    # header frame count disagrees with the stream
    avih = _find(base, b"avih")
    bad = bytearray(base)
    struct.pack_into("<I", bad, avih + 8 + 16, 99)  # dwTotalFrames @ +16
    assert parse_avi(bytes(bad)) is None
    # lying idx1: first entry's offset shifted by 2
    idx1 = _find(base, b"idx1")
    bad = bytearray(base)
    (off,) = struct.unpack_from("<I", bad, idx1 + 8 + 8)
    struct.pack_into("<I", bad, idx1 + 8 + 8, off + 2)
    assert parse_avi(bytes(bad)) is None
    # zero scale (fps division guard)
    strh = _find(base, b"strh")
    bad = bytearray(base)
    struct.pack_into("<I", bad, strh + 8 + 20, 0)  # dwScale
    assert parse_avi(bytes(bad)) is None


def test_idx1_is_actually_checked():
    """Delete idx1 → still parses (index optional); corrupt it →
    refused. Together these prove the cross-check is live."""
    base = make_avi(3)
    idx1 = _find(base, b"idx1")
    (isz,) = struct.unpack_from("<I", base, idx1 + 4)
    no_idx = bytearray(base[:idx1] + base[idx1 + 8 + isz :])
    # shrink the RIFF size accordingly
    struct.pack_into("<I", no_idx, 4, len(no_idx) - 8)
    parsed = parse_avi(bytes(no_idx))
    assert parsed is not None and len(parsed[4]) == video_params(3)[2]


def test_video_query_plan(spark, sf_dir):
    from queryengine_spark.queries.multimodal2 import multimodal_video_frames

    plan = (
        multimodal_video_frames(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "Join" not in plan
    assert "MapInArrow" in plan
