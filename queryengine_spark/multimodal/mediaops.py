"""Media transformation operators over REALLY-decoded payloads (r6):
nearest-neighbor resize, center crop, animation frame sampling, and
audio frame features — the "decode / feature-extract / resize /
frame-sample" quartet a training-data pipeline runs between ingestion
and packing.

Everything is exact integer arithmetic so the DuckDB oracle can
recompute each output FROM THE SYNTHESIS FORMULA while Spark computes
it from container bytes routed through the in-repo decoders — a hash
match certifies the decoder AND the transform arithmetic end-to-end.

Conventions (mirrored in the oracle SQL; all floor divisions on
non-negative operands, where Spark ``div``, DuckDB ``//`` and Python
``//`` agree):

- resize (nearest neighbor, the only resize that is exact in integer
  arithmetic): ``src_x = (dst_x * w) // RW``, ``src_y = (dst_y * h)
  // RH`` — the standard area-anchored NN map (each source pixel
  chosen is the one containing the dst sample point).
- center crop: ``cw = w // 2``, ``ch = h // 2``, origin
  ``((w - cw) // 2, (h - ch) // 2)`` — even/odd dims both exercised.
- frame sampling: keep frames ``f % stride == 0`` in stream order —
  the fixed-rate sampling a video/animation pipeline uses to bound
  per-asset cost.
- audio framing: non-overlapping windows of ``AF_WIN`` samples (the
  last window may be short); per-window energy ``Σ s²`` (int64) and
  zero crossings = #{i > win_start : sign(s[i-1]) ≠ sign(s[i])} with
  ``sign = (s < 0)`` — all within-window, no cross-window pairs.

Scale: synthesis → decode → transform is one map_rows chain per
query (row-linear, zero shuffle, no driver state); outputs are small
fixed-arity rows. At 100 TB the same chain runs unchanged — the only
shuffle anywhere is the final oracle-ordering, which the driver adds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

#: resize target (thumbnail grid) — mirrored in the oracle SQL
RZ_W, RZ_H = 8, 8
#: animation sampling stride
FRAME_STRIDE = 2
#: audio framing window (samples) — mirrored in the oracle SQL
AF_WIN = 32


# ------------------------------------------------------- image ops

IMAGE_OPS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("rz_sum_r", LongType()),
        StructField("rz_sum_g", LongType()),
        StructField("rz_sum_b", LongType()),
        StructField("cr_sum_r", LongType()),
        StructField("cr_sum_g", LongType()),
        StructField("cr_sum_b", LongType()),
    ]
)


def resize_nn(arr: np.ndarray, rw: int, rh: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, c) array to (rh, rw, c):
    out[dy, dx] = in[(dy*h)//rh, (dx*w)//rw]. Pure index arithmetic —
    bit-exact and orientation-preserving for any input size."""
    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(rh, dtype=np.int64) * h) // rh
    xs = (np.arange(rw, dtype=np.int64) * w) // rw
    return arr[ys[:, None], xs[None, :]]


def center_crop(arr: np.ndarray) -> np.ndarray:
    """Center crop to (h//2, w//2) at origin ((w-cw)//2, (h-ch)//2)."""
    h, w = arr.shape[0], arr.shape[1]
    ch, cw = h // 2, w // 2
    y0, x0 = (h - ch) // 2, (w - cw) // 2
    return arr[y0 : y0 + ch, x0 : x0 + cw]


def image_ops_stats(assets: DataFrame) -> DataFrame:
    """(asset_id, payload) → per-asset resize + crop channel sums over
    really-decoded pixels (magic-byte dispatch: BMP / PNG / GIF /
    TIFF / JPEG — the latter two since r7, JPEG through the
    fixed-point-IDCT pixel path, grayscale replicated to RGB).
    Undecodable payloads are dropped, mirroring dhash_relation."""

    from queryengine_spark.multimodal.phash import decode_image

    def stats(aid, payload):
        arr = decode_image(payload or b"")
        if arr is None or arr.ndim != 3 or arr.shape[2] < 3:
            return ()
        rgb = arr[..., :3].astype(np.int64)
        rz = resize_nn(rgb, RZ_W, RZ_H)
        cr = center_crop(rgb)
        return [
            (aid, rgb.shape[1], rgb.shape[0],
             *(int(rz[..., c].sum()) for c in range(3)),
             *(int(cr[..., c].sum()) for c in range(3)))
        ]

    return map_rows(assets, IMAGE_OPS_SCHEMA, stats, "asset_id", "payload")


# --------------------------------------------------- frame sampling

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("delay_cs", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def gif_frame_sample(ids: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Synthesize ANIMATED GIFs (multimodal/gif.py::make_gif_animated —
    NETSCAPE loop, per-frame GCEs), really decode EVERY frame with the
    multi-image walk, then keep frames ``f % stride == 0`` — one row
    per sampled frame with its GCE delay and channel sums. The decode
    is not short-circuited at the sampled frames: a real pipeline must
    LZW-walk the stream anyway to reach frame f (GIF has no frame
    index), which is exactly what decode_gif_frames does."""

    from queryengine_spark.multimodal.gif import decode_gif_frames, make_gif_animated

    def frames(a):
        dec = decode_gif_frames(make_gif_animated(a))
        if dec is None:
            return
        for f, (_, _, rgb, delay) in enumerate(dec[2]):
            if f % stride:
                continue
            c = rgb.astype(np.int64)
            yield (a, f, int(delay), int(c.shape[0] * c.shape[1]),
                   *(int(c[..., k].sum()) for k in range(3)))

    return map_rows(ids, FRAME_SAMPLE_SCHEMA, frames, "asset_id")


# ----------------------------------------------------- audio frames

AUDIO_FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("win_idx", IntegerType()),
        StructField("n", IntegerType()),
        StructField("energy", LongType()),
        StructField("zc", IntegerType()),
    ]
)


def audio_frame_features(ids: DataFrame, win: int = AF_WIN) -> DataFrame:
    """Synthesize mono 16-bit PCM WAVs (multimodal/wav.py — the same
    RIFF writer the decode queries pin byte-by-byte), really decode
    through the RIFF chunk walk, then frame into non-overlapping
    ``win``-sample windows: one row per window with exact int64
    energy (Σ s²) and the zero-crossing count — the front half of any
    VAD / silence-trim / loudness-bucketing stage."""

    from queryengine_spark.multimodal.wav import decode_pcm_wav, make_pcm_wav

    def windows(a):
        dec = decode_pcm_wav(make_pcm_wav(a))
        if dec is None:
            return
        s = dec[1].astype(np.int64)
        neg = s < 0
        for w0 in range(0, len(s), win):
            seg = s[w0 : w0 + win]
            nseg = neg[w0 : w0 + win]
            yield (a, w0 // win, len(seg), int((seg * seg).sum()),
                   int((nseg[1:] != nseg[:-1]).sum()))

    return map_rows(ids, AUDIO_FRAME_SCHEMA, windows, "asset_id")


# ---------------------------------------------------------------- augment (r8)

#: the four lossless augmentations, in output order
AUG_TRANSFORMS = ("rot90", "rot180", "rot270", "fliplr")

AUGMENT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("transform", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("wsum_r", LongType()),
        StructField("wsum_g", LongType()),
        StructField("wsum_b", LongType()),
    ]
)


def image_augment_stats(assets: DataFrame) -> DataFrame:
    """Lossless image augmentation (r8) — the flip/rotate family a
    training pipeline applies between decode and packing: rot90
    (clockwise), rot180, rot270, horizontal flip over really-decoded
    pixels (here the TIFF corpus, so the augmentations run on top of
    the PackBits / LZW+Predictor2 / deflate codecs). One row per
    (asset, transform) with OUTPUT dims (rot90/rot270 swap w↔h) and
    two checksum families:

    - sum_c: plain channel sums — rotation-INVARIANT (a sanity rail);
    - wsum_c = Σ (1 + x' + 2·y')·c over OUTPUT coordinates —
      position-weighted, so a wrong rotation direction, a flipped
      axis, or an off-by-one in the index map breaks the oracle hash
      even though the pixel multiset is identical.

    Index maps (input (x, y), dims (w, h) → output (x', y')), pinned
    against numpy in pytest:
      rot90  : x' = h−1−y, y' = x        (output w×h = h×w)
      rot180 : x' = w−1−x, y' = h−1−y
      rot270 : x' = y,     y' = w−1−x    (output h×w)
      fliplr : x' = w−1−x, y' = y

    Row-linear map_rows, zero shuffle — the same scale shape as
    every media transform."""
    from queryengine_spark.multimodal.tiff import decode_tiff

    def one(arr: np.ndarray, t: str) -> np.ndarray:
        if t == "rot90":
            return np.rot90(arr, k=-1)
        if t == "rot180":
            return np.rot90(arr, k=2)
        if t == "rot270":
            return np.rot90(arr, k=1)
        return arr[:, ::-1]

    def augment(aid, payload):
        arr = decode_tiff(payload or b"")
        if arr is None:
            return
        for t in AUG_TRANSFORMS:
            out = one(arr, t).astype(np.int64)
            oh, ow = out.shape[0], out.shape[1]
            wgt = (
                1
                + np.arange(ow, dtype=np.int64)[None, :]
                + 2 * np.arange(oh, dtype=np.int64)[:, None]
            )
            yield (aid, t, ow, oh, int(oh * ow),
                   *(int(out[..., c].sum()) for c in range(3)),
                   *(int((wgt * out[..., c]).sum()) for c in range(3)))

    return map_rows(assets, AUGMENT_SCHEMA, augment, "asset_id", "payload")
