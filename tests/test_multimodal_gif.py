"""GIF/LZW decoder correctness independent of the synthesizer:
hand-computed LZW bit streams (including the KwKwK corner case) pin
the decoder's bit order and table semantics, roundtrips stress
variable code widths + the 4096-entry reset, and malformed probes pin
the None paths."""

from __future__ import annotations

import random
import struct

import numpy as np

from queryengine_spark.multimodal.gif import (
    decode_gif,
    GIF_LZW,
    gif_params,
    make_gif,
    palette_rgb,
    pixel_index,
)
from queryengine_spark.multimodal.lzw import lzw_decode, lzw_encode


def test_lzw_hand_vectors():
    # min_code_size=2 -> clear=4, eoi=5, 3-bit codes, LSB-first.
    # [0,0,0]  -> codes 4,0,6,5  -> value 4+0·8+6·64+5·512 = 2948
    #          -> bytes 0x84, 0x0B
    assert lzw_decode(bytes([0x84, 0x0B]), 2, GIF_LZW) == bytes([0, 0, 0])
    # [1,1,1,1] -> codes 4,1,6,1,5 (6 is referenced in the step that
    # defines it: the KwKwK case) -> 4+1·8+6·64+1·512+5·4096 = 21388
    #           -> bytes 0x8C, 0x53
    assert lzw_decode(bytes([0x8C, 0x53]), 2, GIF_LZW) == bytes([1, 1, 1, 1])


def test_lzw_roundtrip_stress():
    rng = random.Random(7)
    cases = [
        b"",
        bytes([0]),
        bytes(rng.randrange(4) for _ in range(20000)),  # 4096-table reset
        bytes(rng.randrange(256) for _ in range(20000)),
        bytes(range(256)) * 40,
    ]
    for data in cases:
        assert lzw_decode(lzw_encode(data, 8, GIF_LZW), 8, GIF_LZW) == data
    for data in cases[:3]:
        assert lzw_decode(lzw_encode(data, 2, GIF_LZW), 2, GIF_LZW) == data


def test_lzw_truncated_stream_is_none():
    enc = lzw_encode(bytes(range(100)), 8, GIF_LZW)
    assert lzw_decode(enc[: len(enc) // 2], 8, GIF_LZW) is None


def test_synthesized_assets_decode_to_formula():
    for aid in (0, 5, 77, 1234, 99999):
        img = decode_gif(make_gif(aid))
        w, h = gif_params(aid)
        assert img is not None and img.shape == (h, w, 3)
        exp = np.array(
            [
                [palette_rgb(pixel_index(aid, x, y)) for x in range(w)]
                for y in range(h)
            ],
            dtype=np.uint8,
        )
        assert (img == exp).all()


#: image-separator offset: 13-byte header/LSD + 768-byte palette
#: (0x2C bytes occur inside palette data, so never search for ",")
_SEP = 13 + 768


def test_gif89a_extension_blocks_are_skipped():
    g = make_gif(3)
    # splice a Graphic Control Extension before the image separator
    sep = _SEP
    assert g[sep] == 0x2C
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    g89 = b"GIF89a" + g[6:sep] + ext + g[sep:]
    img = decode_gif(g89)
    assert img is not None
    assert (img == decode_gif(g)).all()


def test_malformed_inputs_return_none():
    good = make_gif(9)
    assert decode_gif(b"") is None
    assert decode_gif(b"GIF87a") is None
    assert decode_gif(good[:-40]) is None  # truncated image data
    # r5: interlace flag set on non-interlaced content now DECODES
    # (deinterlace applies the 4-pass inverse) — the result is a pure
    # row permutation of the original, same multiset of rows
    sep = _SEP
    assert good[sep] == 0x2C
    x0, y0, w, h, fl = struct.unpack("<HHHHB", good[sep + 1 : sep + 10])
    bad = (
        good[: sep + 1]
        + struct.pack("<HHHHB", x0, y0, w, h, fl | 0x40)
        + good[sep + 10 :]
    )
    img_bad = decode_gif(bad)
    img_good = decode_gif(good)
    assert img_bad is not None and img_bad.shape == img_good.shape
    rows = lambda im: sorted(im[y].tobytes() for y in range(im.shape[0]))  # noqa: E731
    assert rows(img_bad) == rows(img_good)
    assert img_bad.tobytes() != img_good.tobytes()  # genuinely permuted
    # pixel count mismatch: shrink declared height
    bad2 = (
        good[: sep + 1]
        + struct.pack("<HHHHB", x0, y0, w, h - 1, fl)
        + good[sep + 10 :]
    )
    assert decode_gif(bad2) is None


def test_local_color_table_overrides_global():
    """r5: an image-level LCT must be used INSTEAD of the decoy
    global table — using the GCT would give different channel values
    for every pixel index where the palettes disagree."""
    import numpy as np

    from queryengine_spark.multimodal.gif import (
        decode_gif,
        gif_params,
        lct_rgb,
        make_gif_lct,
        palette_rgb,
        pixel_index,
    )

    for aid in (1, 9, 77):
        img = decode_gif(make_gif_lct(aid))
        w, h = gif_params(aid)
        assert img is not None and img.shape == (h, w, 3)
        exp = np.array(
            [[lct_rgb(aid, pixel_index(aid, x, y)) for x in range(w)]
             for y in range(h)],
            dtype=np.uint8,
        )
        assert (img == exp).all()
        wrong = np.array(
            [[palette_rgb(pixel_index(aid, x, y)) for x in range(w)]
             for y in range(h)],
            dtype=np.uint8,
        )
        assert (img != wrong).any()  # decoy global genuinely differs


def test_interlaced_decode_restores_row_order():
    """r5: channel sums are permutation-invariant, so the
    deinterlacing must be pinned POSITIONALLY — a hand-built 1×8
    interlaced image with distinct single-index rows must come back
    in display order 0..7 from storage order [0,4,2,6,1,3,5,7]."""
    import struct

    import numpy as np

    from queryengine_spark.multimodal.gif import GIF_LZW, decode_gif, interlace_order
    from queryengine_spark.multimodal.lzw import lzw_encode

    h = 8
    order = interlace_order(h)
    assert order == [0, 4, 2, 6, 1, 3, 5, 7]
    # display row y holds index value y; stored in interlace order
    idx = bytes(order)  # one pixel per row, rows stored per pass
    pal = b"".join(bytes((i, (2 * i) % 256, (3 * i) % 256)) for i in range(256))
    lzw = lzw_encode(idx, 8, GIF_LZW)
    blocks = bytes([len(lzw)]) + lzw + b"\x00"
    g = (
        b"GIF87a"
        + struct.pack("<HHBBB", 1, h, 0xF7, 0, 0)
        + pal
        + b","
        + struct.pack("<HHHHB", 0, 0, 1, h, 0x40)
        + bytes([8])
        + blocks
        + b";"
    )
    img = decode_gif(g)
    assert img is not None and img.shape == (h, 1, 3)
    got_rows = [int(img[y, 0, 0]) for y in range(h)]
    assert got_rows == list(range(h))  # display order restored


def test_interlaced_formula_assets_equal_plain():
    import numpy as np

    from queryengine_spark.multimodal.gif import (
        decode_gif,
        make_gif,
        make_gif_interlaced,
    )

    for aid in (1, 9, 42):
        a = decode_gif(make_gif(aid))
        b = decode_gif(make_gif_interlaced(aid))
        assert a is not None and b is not None and (a == b).all()
        # and the containers genuinely differ (flag + row order)
        assert make_gif(aid) != make_gif_interlaced(aid)


# --- r6: animated GIF (multi-image walk + GCE delays) -----------------------


def test_animated_assets_decode_to_formula():
    from queryengine_spark.multimodal.gif import (
        anim_index,
        decode_gif_frames,
        gif_delay,
        gif_frames,
        gif_params,
        make_gif_animated,
        palette_rgb,
    )

    for a in (6, 14, 22, 46):
        res = decode_gif_frames(make_gif_animated(a))
        assert res is not None, a
        sw, sh, frames = res
        w, h = gif_params(a)
        assert (sw, sh) == (w, h) and len(frames) == gif_frames(a)
        for f, (x0, y0, img, d) in enumerate(frames):
            assert (x0, y0) == (0, 0) and d == gif_delay(a, f)
            for y in range(h):
                for x in range(w):
                    assert tuple(img[y, x]) == palette_rgb(
                        anim_index(a, f, x, y)
                    )


def test_gce_applies_to_next_image_only():
    """Two frames, GCE only before the FIRST: frame 1 carries the
    delay, frame 2 must come back with delay 0 (the pending-GCE
    state resets after each image)."""
    import struct

    from queryengine_spark.multimodal.gif import GIF_LZW, decode_gif_frames
    from queryengine_spark.multimodal.lzw import lzw_encode

    pal = bytes(6)  # 2-entry black palette
    idx = bytes([0, 1, 1, 0])
    lzw = lzw_encode(idx, 2, GIF_LZW)
    img = (
        b","
        + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([2, len(lzw)])
        + lzw
        + b"\x00"
    )
    gce = b"\x21\xf9\x04" + struct.pack("<BHB", 0, 37, 0) + b"\x00"
    b = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0)  # GCT, 2 entries
        + pal
        + gce
        + img
        + img
        + b";"
    )
    res = decode_gif_frames(b)
    assert res is not None
    _, _, frames = res
    assert len(frames) == 2
    assert frames[0][3] == 37 and frames[1][3] == 0


def test_animated_truncation_refused():
    from queryengine_spark.multimodal.gif import (
        decode_gif_frames,
        make_gif_animated,
    )

    p = make_gif_animated(6)
    assert decode_gif_frames(p[:-1]) is None  # no trailer
    # corrupt a GCE block size (4 -> 5)
    i = p.index(b"\x21\xf9\x04")
    bad = p[:i] + b"\x21\xf9\x05" + p[i + 3 :]
    assert decode_gif_frames(bad) is None
