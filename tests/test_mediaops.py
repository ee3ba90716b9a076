"""Media-transform kernels (multimodal/mediaops.py) pinned against
hand-computed vectors and independent pure-Python recomputations —
so a Spark-side bug and an oracle-side bug can never cancel (the same
discipline as the codec byte/bit pins)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from queryengine_spark.multimodal.mediaops import (
    AF_WIN,
    FRAME_STRIDE,
    RZ_H,
    RZ_W,
    audio_frame_features,
    center_crop,
    gif_frame_sample,
    image_ops_stats,
    resize_nn,
)


# ------------------------------------------------------- resize / crop


def test_resize_nn_hand_vector():
    # 2x4 image, resize to 2x2: src_x = (dx*4)//2 = {0, 2}; src_y = {0, 1}
    img = np.arange(2 * 4 * 3, dtype=np.int64).reshape(2, 4, 3)
    out = resize_nn(img, 2, 2)
    assert out.shape == (2, 2, 3)
    assert (out[0, 0] == img[0, 0]).all()
    assert (out[0, 1] == img[0, 2]).all()
    assert (out[1, 0] == img[1, 0]).all()
    assert (out[1, 1] == img[1, 2]).all()


def test_resize_nn_identity_and_constant():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (11, 13, 3), dtype=np.int64)
    assert (resize_nn(img, 13, 11) == img).all()  # same-size = identity
    const = np.full((9, 17, 3), 42, dtype=np.int64)
    assert (resize_nn(const, 8, 8) == 42).all()


def test_resize_nn_upscale_replicates():
    # 1x2 -> 1x4: src_x = (dx*2)//4 = 0,0,1,1 — NN upscaling replicates
    img = np.array([[[1, 1, 1], [9, 9, 9]]], dtype=np.int64)
    out = resize_nn(img, 4, 1)
    assert out[0, :, 0].tolist() == [1, 1, 9, 9]


@pytest.mark.parametrize("h,w", [(4, 4), (5, 7), (16, 17), (3, 3)])
def test_center_crop_geometry(h, w):
    img = np.arange(h * w, dtype=np.int64).reshape(h, w, 1)
    out = center_crop(img)
    ch, cw = h // 2, w // 2
    y0, x0 = (h - ch) // 2, (w - cw) // 2
    assert out.shape == (ch, cw, 1)
    assert out[0, 0, 0] == img[y0, x0, 0]
    assert out[-1, -1, 0] == img[y0 + ch - 1, x0 + cw - 1, 0]


def test_image_ops_stats_against_formula(spark):
    """End-to-end (synthesize → decode → resize/crop) vs a pure-Python
    recomputation straight from the pixel formula — fully independent
    of the decoders and of numpy indexing tricks."""
    from queryengine_spark.multimodal.phash import (
        _pixel,
        phash_params,
        phj_dc,
        synthesize_phash_assets,
    )

    ids = spark.createDataFrame([(i,) for i in range(16)], "asset_id long")
    got = {
        r["asset_id"]: r
        for r in image_ops_stats(synthesize_phash_assets(ids)).collect()
    }
    assert len(got) == 16
    for a in range(16):
        gid, variant = a // 2, a % 2
        w, h, _, _, _ = phash_params(gid)
        if gid % 4 == 2:  # JPEG leg (r7): gray block formulas, 72×64
            w, h = 72, 64
            from queryengine_spark.multimodal.jpeg import (
                AC_POSITIONS,
                QUANT_AC,
                QUANT_DC,
                ZIGZAG_NAT,
                block_ac,
            )
            from tests.test_jpeg_idct import _idct_independent

            def _pix_jpeg(x, y, gid=gid, variant=variant):
                from queryengine_spark.multimodal.phash import phj_dc_chroma

                bx, by = x // 8, y // 8
                if gid % 8 == 2:  # DC-only sub-leg — COLOR since r8
                    yv = phj_dc(gid, variant, bx, by) + 128
                    cb = phj_dc_chroma(gid, 1, bx, by)
                    cr = phj_dc_chroma(gid, 2, bx, by)
                    return (
                        min(255, max(0, yv + (1402 * cr + 500) // 1000)),
                        min(255, max(0, yv - (344 * cb + 714 * cr + 500) // 1000)),
                        min(255, max(0, yv + (1772 * cb + 500) // 1000)),
                    )
                # AC sub-leg: independent fixed-point IDCT replay
                terms = {(0, 0): QUANT_DC * phj_dc(gid, variant, bx, by)}
                for p in AC_POSITIONS:
                    vv, uu = divmod(ZIGZAG_NAT[p], 8)
                    terms[(vv, uu)] = QUANT_AC * block_ac(gid, bx, by, p)
                v = _idct_independent(terms)[y % 8][x % 8]
                return (v, v, v)

            pixel = _pix_jpeg
        else:
            def pixel(x, y, gid=gid, variant=variant):
                return _pixel(gid, variant, x, y)
        rz = [0, 0, 0]
        for dy in range(RZ_H):
            for dx in range(RZ_W):
                p = pixel((dx * w) // RZ_W, (dy * h) // RZ_H)
                for c in range(3):
                    rz[c] += p[c]
        cr = [0, 0, 0]
        ch_, cw_ = h // 2, w // 2
        y0, x0 = (h - ch_) // 2, (w - cw_) // 2
        for y in range(y0, y0 + ch_):
            for x in range(x0, x0 + cw_):
                p = pixel(x, y)
                for c in range(3):
                    cr[c] += p[c]
        r = got[a]
        assert (r["width"], r["height"]) == (w, h)
        assert [r["rz_sum_r"], r["rz_sum_g"], r["rz_sum_b"]] == rz, a
        assert [r["cr_sum_r"], r["cr_sum_g"], r["cr_sum_b"]] == cr, a


# ------------------------------------------------------- frame sampling


def test_gif_frame_sample_stride_and_delays(spark):
    """Assets with 2/3/4 frames: stride 2 keeps {0}, {0, 2}, {0, 2};
    each sampled frame carries ITS OWN GCE delay (the binding the
    multi-image walk must not off-by-one)."""
    from queryengine_spark.multimodal.gif import (
        anim_index,
        gif_delay,
        gif_frames,
        gif_params,
        palette_rgb,
    )

    ids = spark.createDataFrame([(i,) for i in range(6)], "asset_id long")
    rows = gif_frame_sample(ids, stride=FRAME_STRIDE).collect()
    got = {(r["asset_id"], r["frame_idx"]): r for r in rows}
    expect_keys = {
        (a, f)
        for a in range(6)
        for f in range(gif_frames(a))
        if f % FRAME_STRIDE == 0
    }
    assert set(got) == expect_keys
    for (a, f), r in got.items():
        w, h = gif_params(a)
        assert r["delay_cs"] == gif_delay(a, f)
        assert r["n_px"] == w * h
        sums = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                p = palette_rgb(anim_index(a, f, x, y))
                for c in range(3):
                    sums[c] += p[c]
        assert [r["sum_r"], r["sum_g"], r["sum_b"]] == sums, (a, f)


# ------------------------------------------------------- audio frames


def test_audio_zero_crossing_hand_vector():
    """Hand-built window: s = [5, -1, -2, 3, 0, -4] → crossings at
    (5,-1), (-2,3), (0,-4) = 3; (3,0) is NOT a crossing (0 counts as
    non-negative)."""
    s = np.array([5, -1, -2, 3, 0, -4], dtype=np.int64)
    neg = s < 0
    assert int((neg[1:] != neg[:-1]).sum()) == 3


def test_audio_frame_features_against_formula(spark):
    from queryengine_spark.multimodal.wav import _sample, wav_audio_params

    ids = spark.createDataFrame([(i,) for i in range(5)], "asset_id long")
    rows = audio_frame_features(ids, win=AF_WIN).collect()
    got = {(r["asset_id"], r["win_idx"]): r for r in rows}
    for a in range(5):
        _, n = wav_audio_params(a)
        s = [_sample(a, i) for i in range(n)]
        n_win = (n + AF_WIN - 1) // AF_WIN
        assert {w for (aa, w) in got if aa == a} == set(range(n_win))
        for w0 in range(0, n, AF_WIN):
            seg = s[w0 : w0 + AF_WIN]
            r = got[(a, w0 // AF_WIN)]
            assert r["n"] == len(seg)
            assert r["energy"] == sum(v * v for v in seg)
            zc = sum(
                1
                for i in range(1, len(seg))
                if (seg[i - 1] < 0) != (seg[i] < 0)
            )
            assert r["zc"] == zc


def test_mediaops_plans_are_single_map_chains(spark, sf_dir):
    """All three media ops must stay row-linear map_rows chains:
    the only allowed exchange is the deliberate round-robin spread()
    that parallelizes synthesis of single-file inputs — no
    required-distribution shuffle, no join (the 100 TB shape: the
    transform travels to the data)."""
    from queryengine_spark.queries.multimodal2 import (
        multimodal_audio_frames,
        multimodal_frame_sample,
        multimodal_image_ops,
    )

    for fn in (multimodal_image_ops, multimodal_frame_sample, multimodal_audio_frames):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "ENSURE_REQUIREMENTS" not in plan, fn.__name__
        assert "Join" not in plan, fn.__name__
        assert "MapInArrow" in plan, fn.__name__


# ----------------------------------------------------------- augment (r8)


def test_augment_index_maps_hand_vector():
    """2×3 RGB hand vector: every output pixel of all four transforms
    pinned positionally (value encodes its source (y, x))."""
    import numpy as np

    from queryengine_spark.multimodal.mediaops import AUG_TRANSFORMS

    base = np.zeros((2, 3, 3), dtype=np.uint8)
    for y in range(2):
        for x in range(3):
            base[y, x] = 10 * y + x

    def apply(t):
        if t == "rot90":
            return np.rot90(base, k=-1)
        if t == "rot180":
            return np.rot90(base, k=2)
        if t == "rot270":
            return np.rot90(base, k=1)
        return base[:, ::-1]

    want = {
        "rot90": [[10, 0], [11, 1], [12, 2]],
        "rot180": [[12, 11, 10], [2, 1, 0]],
        "rot270": [[2, 12], [1, 11], [0, 10]],
        "fliplr": [[2, 1, 0], [12, 11, 10]],
    }
    assert set(want) == set(AUG_TRANSFORMS)
    for t in AUG_TRANSFORMS:
        assert apply(t)[..., 0].tolist() == want[t], t
    # and the ORACLE's inverse index maps place every pixel there
    w, h = 3, 2
    for t in AUG_TRANSFORMS:
        got = {}
        for y in range(h):
            for x in range(w):
                if t == "rot90":
                    xp, yp = h - 1 - y, x
                elif t == "rot180":
                    xp, yp = w - 1 - x, h - 1 - y
                elif t == "rot270":
                    xp, yp = y, w - 1 - x
                else:
                    xp, yp = w - 1 - x, y
                got[(yp, xp)] = 10 * y + x
        out = apply(t)[..., 0]
        for (yp, xp), v in got.items():
            assert out[yp, xp] == v, (t, yp, xp)


def test_augment_stats_against_formula(spark):
    """End-to-end (synthesize TIFF → decode → augment) vs a scalar
    recomputation from the pixel formulas and the inverse index
    maps — covers all four codec legs (uncompressed / PackBits /
    deflate / LZW+pred2) times all four transforms."""
    from queryengine_spark.multimodal.mediaops import (
        AUG_TRANSFORMS,
        image_augment_stats,
    )
    from queryengine_spark.multimodal.tiff import (
        _pixel_gray0_stored,
        _pixel_gray1,
        _pixel_gray3,
        _pixel_gray6,
        _pixel_gray10,
        _pixel_rgb,
        synthesize_tiff,
        tiff_params,
        tiff_tiled_params,
    )

    ids = spark.createDataFrame([(i,) for i in range(16)], "asset_id long")
    got = {
        (r["asset_id"], r["transform"]): r
        for r in image_augment_stats(synthesize_tiff(ids)).collect()
    }
    assert len(got) == 16 * 4

    def px(a, x, y):
        if a % 4 == 0:
            return _pixel_rgb(a, x, y)
        if a % 4 == 1:
            v = _pixel_gray1(a, x, y)
        elif a % 4 == 3:
            v = _pixel_gray3(a, x, y)
        elif a % 16 == 10:  # r9 tiled LZW leg
            v = _pixel_gray10(a, x, y)
        elif a % 32 in (14, 30):  # r9 tiled-RGB / planar-2 legs
            return _pixel_rgb(a, x, y)
        elif a % 8 == 6:
            v = _pixel_gray6(a, x, y)
        else:
            v = 255 - _pixel_gray0_stored(a, x, y)
        return (v, v, v)

    for a in range(16):
        tiled = a % 16 == 10 or a % 32 == 14
        w, h = tiff_tiled_params(a) if tiled else tiff_params(a)
        for t in AUG_TRANSFORMS:
            sums = [0, 0, 0]
            wsums = [0, 0, 0]
            for y in range(h):
                for x in range(w):
                    if t == "rot90":
                        xp, yp = h - 1 - y, x
                    elif t == "rot180":
                        xp, yp = w - 1 - x, h - 1 - y
                    elif t == "rot270":
                        xp, yp = y, w - 1 - x
                    else:
                        xp, yp = w - 1 - x, y
                    wgt = 1 + xp + 2 * yp
                    p = px(a, x, y)
                    for c in range(3):
                        sums[c] += p[c]
                        wsums[c] += wgt * p[c]
            r = got[(a, t)]
            ow, oh = (h, w) if t in ("rot90", "rot270") else (w, h)
            assert (r["width"], r["height"], r["n_px"]) == (ow, oh, w * h), (a, t)
            assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(sums), (a, t)
            assert (r["wsum_r"], r["wsum_g"], r["wsum_b"]) == tuple(wsums), (a, t)
