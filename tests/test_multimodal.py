"""Multimodal binary-column plumbing: Arrow round-trips of binary
payloads through map_rows (mapInArrow), deterministic fake decode, and the
1→N frame-sampling shape."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from queryengine_spark.multimodal import (
    attach_payload,
    extract_features,
    resize_images,
    sample_frames,
)


def _assets(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a longer payload for frame sampling tests"), (3, "xy")],
        ["id", "content"],
    )
    return attach_payload(df, "id", "content", "image/fake")


def test_attach_payload_binary_and_meta(spark):
    a = _assets(spark).collect()
    by_id = {r["asset_id"]: r for r in a}
    assert bytes(by_id[1]["payload"]) == b"hello world"
    assert by_id[1]["n_bytes"] == 11
    assert by_id[1]["media_type"] == "image/fake"


def test_extract_features_deterministic(spark):
    f1 = {r["asset_id"]: (r["width"], r["height"], r["content_hash"])
          for r in extract_features(_assets(spark)).collect()}
    f2 = {r["asset_id"]: (r["width"], r["height"], r["content_hash"])
          for r in extract_features(_assets(spark)).collect()}
    assert f1 == f2
    assert f1[1][2] == hashlib.md5(b"hello world").hexdigest()
    assert 16 <= f1[1][0] < 80 and 16 <= f1[1][1] < 80


def test_resize_contract(spark):
    out = resize_images(_assets(spark), 32, 32).collect()
    assert all(r["width"] == 32 and r["height"] == 32 for r in out)
    assert all(len(bytes(r["payload"])) == 16 for r in out)  # md5 digest stub


def test_sample_frames_expands_rows(spark):
    frames = sample_frames(_assets(spark), every_n=10, max_frames=4)
    got = frames.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n")).collect()
    n_by_id = {r["asset_id"]: r["n"] for r in got}
    assert n_by_id[2] == 4      # 42 bytes // 10 = 4 frames
    assert n_by_id[1] == 1      # 11 bytes // 10 = 1
    assert n_by_id[3] == 1      # minimum one frame
    row = frames.filter((F.col("asset_id") == 2) & (F.col("frame_idx") == 1)).collect()[0]
    assert bytes(row["frame"]) == b"a longer payload for frame sampling tests"[10:20]

def test_extract_features_real_bmp_dims(spark):
    """A BMP payload must take the REAL decode path: true container
    dimensions (bmp_params), not the md5-derived fake."""
    from queryengine_spark.multimodal.bmp import bmp_params, make_bmp

    ids = [5, 16, 123]
    df = spark.createDataFrame(
        [(i, "image/bmp", make_bmp(i), len(make_bmp(i))) for i in ids],
        ["asset_id", "media_type", "payload", "n_bytes"],
    )
    got = {r["asset_id"]: (r["width"], r["height"]) for r in extract_features(df).collect()}
    assert got == {i: bmp_params(i) for i in ids}


def test_extract_features_magic_byte_routing_all_formats(spark):
    """Every in-repo decoder is reachable from extract_features via
    magic-byte dispatch: PNG/GIF/JPEG payloads report their TRUE
    synthesis dimensions (not the md5 fake); an opaque text payload
    still takes the fake."""
    import hashlib

    from queryengine_spark.multimodal.gif import gif_params, make_gif
    from queryengine_spark.multimodal.jpeg import jpeg_params, make_jpeg_dc
    from queryengine_spark.multimodal.png import make_png_rgba, png_rgba_params
    from queryengine_spark.multimodal.tiff import make_tiff, tiff_params

    opaque = b"plain text payload, no container signature"
    rows = [
        (1, "image/png", make_png_rgba(1), None),
        (2, "image/gif", make_gif(2), None),
        (3, "image/jpeg", make_jpeg_dc(3), None),
        (4, "text/plain", opaque, len(opaque)),
        (5, "image/tiff", make_tiff(5), None),  # MM + PackBits (5%4==1)
        (6, "image/tiff", make_tiff(7), None),  # MM + LZW/pred2 (7%4==3), r8
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary, n_bytes long"
    )
    h = hashlib.md5(opaque).digest()
    want = {
        1: png_rgba_params(1),
        2: gif_params(2),
        3: tuple(8 * b for b in jpeg_params(3)),
        4: (16 + h[0] % 64, 16 + h[1] % 64),  # fake path
        5: tiff_params(5),
        6: tiff_params(7),
    }
    got = {
        r["asset_id"]: (r["width"], r["height"])
        for r in extract_features(df).collect()
    }
    assert got == want


def test_resize_images_real_path(spark):
    """r6: decodable payloads resize for REAL — the output is a
    complete 24-bit BMP whose pixels equal resize_nn of the decoded
    input; opaque payloads keep the md5 fallback (mixed batch)."""
    import numpy as np

    from queryengine_spark.multimodal.bmp import decode_bmp
    from queryengine_spark.multimodal.mediaops import resize_nn
    from queryengine_spark.multimodal.png import decode_png, make_png_rgba

    png = make_png_rgba(7)
    rows = [(1, "image/png", png, None), (2, "text/plain", b"opaque", 6)]
    df = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary, n_bytes long"
    )
    got = {r["asset_id"]: r for r in resize_images(df, 8, 8).collect()}
    out = decode_bmp(bytes(got[1]["payload"]))
    assert out is not None and out.shape == (8, 8, 3)
    src = decode_png(png)[..., :3]
    assert (out == resize_nn(src, 8, 8)).all()
    assert len(bytes(got[2]["payload"])) == 16  # md5 fallback


def test_sample_frames_real_media(spark):
    """r6: AVI yields its sampled JPEG frame bytes verbatim; animated
    GIF yields BMP-encoded frames whose pixels equal the decoded
    frames; a still image yields exactly one frame (itself)."""
    import numpy as np

    from queryengine_spark.multimodal.avi import make_avi, parse_avi, video_params
    from queryengine_spark.multimodal.bmp import decode_bmp, make_bmp
    from queryengine_spark.multimodal.gif import (
        decode_gif_frames,
        gif_frames,
        make_gif_animated,
    )

    avi = make_avi(6)  # nf = 2 + 6 % 4 = 4 frames
    gif = make_gif_animated(7)  # 2 + 7 % 3 = 3 frames
    bmp = make_bmp(4)
    rows = [
        (1, "video/avi", avi, None),
        (2, "image/gif", gif, None),
        (3, "image/bmp", bmp, None),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary, n_bytes long"
    )
    got = sample_frames(df, every_n=2, max_frames=4).collect()
    by = {}
    for r in got:
        by.setdefault(r["asset_id"], {})[r["frame_idx"]] = bytes(r["frame"])
    # AVI: frames 0 and 2 of 4, verbatim JPEG bytes
    container_frames = parse_avi(avi)[4]
    assert sorted(by[1]) == [0, 1]
    assert by[1][0] == container_frames[0]
    assert by[1][1] == container_frames[2]
    # GIF: frames 0 and 2 of 3, BMP-encoded with matching pixels
    gif_decoded = decode_gif_frames(gif)[2]
    assert sorted(by[2]) == [0, 1]
    for out_idx, src_idx in ((0, 0), (1, 2)):
        arr = decode_bmp(by[2][out_idx])
        assert arr is not None
        assert (arr == gif_decoded[src_idx][2]).all(), (out_idx, src_idx)
    # still image: exactly one frame, the payload itself
    assert by[3] == {0: bmp}


# --- r9: BI_RLE4 (4-bit nibble-run BMP) --------------------------------------


class TestBmpRle4:
    def test_hand_vector_all_modes(self):
        """Hand-built RLE4 stream over a 6x2 bitmap exercising every
        payload shape with no encoder in the loop. Stored (bottom-up)
        row 0: encoded run [5, 0x3A] -> 3,10,3,10,3 then [1, 0x70] ->
        7; row 1: absolute [0,4, 0x12 0x34 pad] -> 1,2,3,4 then
        delta [0,2,1,0] skips one pixel (stays 0) and [1, 0x90]
        writes 9 at x=5."""
        import struct

        import numpy as np

        from queryengine_spark.multimodal.bmp import decode_bmp

        data = bytes(
            [5, 0x3A, 1, 0x70, 0, 0]          # row 0 (stored) + EOL
            + [0, 4, 0x12, 0x34, 0, 2, 1, 0, 1, 0x90, 0, 1]  # row 1 + EOB
        )
        off = 14 + 40 + 4 * 16
        fh = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
        ih = struct.pack(
            "<IiiHHIIiiII", 40, 6, 2, 1, 4, 2, len(data), 2835, 2835, 16, 0
        )
        pal = b"".join(bytes((j, j, j, 0)) for j in range(16))  # gray ramp
        img = decode_bmp(fh + ih + pal + data)
        assert img is not None and img.shape == (2, 6, 3)
        gray = img[:, :, 0].tolist()  # identity palette -> index
        # display order: stored row 1 is the TOP row after the flip
        assert gray[0] == [1, 2, 3, 4, 0, 9]
        assert gray[1] == [3, 10, 3, 10, 3, 7]

    def test_synthesized_roundtrip(self):
        import numpy as np

        from queryengine_spark.multimodal.bmp import (
            bmp4_index,
            bmp8_palette,
            bmp_params,
            decode_bmp,
            make_bmp4_rle,
        )

        for a in (7, 15, 23, 31, 39, 103):
            w, h = bmp_params(a)
            img = decode_bmp(make_bmp4_rle(a))
            assert img is not None and img.shape == (h, w, 3)
            exp = np.array(
                [
                    [bmp8_palette(a, bmp4_index(a, x, y)) for x in range(w)]
                    for y in range(h)
                ],
                dtype=np.uint8,
            )
            assert (img == exp).all(), a

    def test_refusals(self):
        import struct

        from queryengine_spark.multimodal.bmp import decode_bmp, make_bmp4_rle

        good = make_bmp4_rle(7)
        assert decode_bmp(good) is not None
        # RLE4 with bpp 8 (and vice versa) refused
        bad = bytearray(good)
        struct.pack_into("<H", bad, 28, 8)
        assert decode_bmp(bytes(bad)) is None
        # top-down RLE refused
        bad2 = bytearray(good)
        struct.pack_into("<i", bad2, 22, -struct.unpack_from("<i", good, 22)[0])
        assert decode_bmp(bytes(bad2)) is None
        # truncated stream (no EOB) refused
        assert decode_bmp(good[:-2]) is None

    def test_uncompressed_4bit(self):
        """Plain (BI_RGB) 4-bit BMP: packed nibbles, padded rows."""
        import struct

        from queryengine_spark.multimodal.bmp import decode_bmp

        # 3x1, indices 5, 0, 15 -> bytes 0x50 0xF0, stride pads to 4
        row = bytes([0x50, 0xF0, 0, 0])
        off = 14 + 40 + 4 * 16
        fh = struct.pack("<2sIHHI", b"BM", off + len(row), 0, 0, off)
        ih = struct.pack(
            "<IiiHHIIiiII", 40, 3, 1, 1, 4, 0, len(row), 2835, 2835, 16, 0
        )
        pal = b"".join(bytes((3 * j, 2 * j, j, 0)) for j in range(16))
        img = decode_bmp(fh + ih + pal + row)
        assert img is not None
        # palette entries are (B,G,R,X) on disk -> RGB out
        assert img.tolist() == [[[5, 10, 15], [0, 0, 0], [15, 30, 45]]]


def test_extract_features_decodes_ac_and_progressive_jpeg(spark):
    """JPEGs outside the DC profiles (AC-bearing, 4:2:0 with AC,
    progressive) report the dimensions the full pixel decoder sees,
    not the md5-derived fake."""
    from queryengine_spark.multimodal import _fake_decode
    from queryengine_spark.multimodal.jpeg import (
        make_jpeg_420_ac,
        make_jpeg_ac,
        make_jpeg_progressive,
    )
    from queryengine_spark.multimodal.phash import decode_image

    payloads = {
        1: make_jpeg_ac(3),
        2: make_jpeg_420_ac(13, dri=False),
        3: make_jpeg_progressive(1),
    }
    df = spark.createDataFrame(
        [(i, "image/jpeg", b, None) for i, b in payloads.items()],
        "asset_id long, media_type string, payload binary, n_bytes long",
    )
    got = {r["asset_id"]: (r["width"], r["height"]) for r in extract_features(df).collect()}
    for i, b in payloads.items():
        arr = decode_image(b)
        assert got[i] == (arr.shape[1], arr.shape[0]) != _fake_decode(b), i
