"""Round-3 multimodal addition: REAL pixel decode (BMP) — registered
after the round-3 certification window (queries/__init__.py).

Unlike the stubbed JPEG/PNG pixel paths (absent codec libs), the
24-bit BMP pipeline runs end-to-end: synthesize container bytes from
an arithmetic pixel formula → binary column → struct/numpy decode →
exact integer channel sums. The oracle recomputes the sums FROM THE
FORMULA (never touching the bytes), so a hash match certifies the
byte layout, stride padding, bottom-up flip and BGR ordering of the
actual decoder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queryengine_spark.multimodal.bmp import (
    BMP_H_MOD,
    BMP_W_MOD,
    IDX_Y_MULT,
    PAL_B_MULT,
    PAL_B_OFF,
    PAL_G_A,
    PAL_G_MULT,
    PAL_R_MULT,
    bmp_pixel_stats,
    synthesize_bmp_mixed,
)
from queryengine_spark.plans import spread
from queryengine_spark.queries.base import t


def multimodal_bmp_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed BMP profiles (r5, extended r6): even asset_ids are
    24-bit BI_RGB, % 4 == 1 are plain 8-bit PALETTED (BGRX color
    table, index rows), % 4 == 3 are BI_RLE8-COMPRESSED paletted
    (r6) — real run-length decompression: encoded-mode runs on odd
    rows (the index formula repeats 3× along x), absolute-mode
    word-aligned segments on even rows, end-of-line and
    end-of-bitmap escapes. All decode through the same decode_bmp
    dispatch; the oracle recomputes channel sums from the pixel
    formula (24-bit), palette[index] composition (8-bit), and the
    row-parity RLE index formula (%4==3), so the hash certifies
    stride padding, bottom-up flip, BGR(X) ordering, the
    palette-lookup path AND the RLE8 decompressor."""
    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return bmp_pixel_stats(synthesize_bmp_mixed(spread(ids)))


MULTIMODAL_BMP_DECODE_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
dims AS (SELECT asset_id,
                CAST(4 + asset_id % {BMP_W_MOD} AS INT) AS w,
                CAST(4 + asset_id % {BMP_H_MOD} AS INT) AS h
         FROM ids),
px AS (SELECT asset_id, w, h, CAST(xx.i AS BIGINT) AS x, CAST(yy.i AS BIGINT) AS y
       FROM dims, unnest(range(0, w)) xx(i), unnest(range(0, h)) yy(i)),
idx AS (SELECT asset_id, w, h, x, y,
               -- r6: the %8=3 BI_RLE8 leg repeats indices 3× along x
               -- on odd rows (encoded-mode runs); even rows keep the
               -- run-free formula (absolute-mode segments).
               -- r9: the %8=7 BI_RLE4 leg is 4-bit — y%4=3 rows
               -- ALTERNATE two indices (the two-nibble encoded run),
               -- other odd rows run 3×, even rows are absolute
               CASE WHEN asset_id % 8 = 7 THEN
                      CASE WHEN y % 4 = 3
                           THEN (({IDX_Y_MULT} * y + asset_id) % 16
                                 + CASE WHEN x % 2 = 0 THEN 0 ELSE 7 END) % 16
                           WHEN y % 2 = 1
                           THEN (x // 3 + {IDX_Y_MULT} * y + asset_id) % 16
                           ELSE (x + {IDX_Y_MULT} * y + asset_id) % 16 END
                    ELSE (CASE WHEN asset_id % 4 = 3 AND y % 2 = 1
                               THEN x // 3 ELSE x END
                          + {IDX_Y_MULT} * y + asset_id) % 256 END AS j
        FROM px),
sums AS (SELECT asset_id, w, h,
                CAST(SUM(CASE WHEN asset_id % 2 = 0
                     THEN (x * y + asset_id) % 256
                     ELSE (j * {PAL_R_MULT} + asset_id) % 256 END) AS BIGINT) AS sum_r,
                CAST(SUM(CASE WHEN asset_id % 2 = 0
                     THEN (asset_id + y) % 256
                     ELSE (j * {PAL_G_MULT} + {PAL_G_A} * asset_id) % 256 END) AS BIGINT) AS sum_g,
                CAST(SUM(CASE WHEN asset_id % 2 = 0
                     THEN (asset_id + x) % 256
                     ELSE (j * {PAL_B_MULT} + {PAL_B_OFF}) % 256 END) AS BIGINT) AS sum_b
         FROM idx GROUP BY asset_id, w, h)
SELECT asset_id, w AS width, h AS height,
       CAST(w * h AS BIGINT) AS n_px, sum_r, sum_g, sum_b
FROM sums
"""


# r8: the BMP leg is registered through the multimodal_image_decode
# composite (queries/addenda.py); this dict seeds the module registry
QUERIES = {}


def multimodal_wav_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Audio twin of the BMP path, mixed profiles (r5, extended r6):
    asset_id % 4 == 0 → mono 16-bit PCM, % 8 == 2 → STEREO 16-bit
    (interleaved L/R frames, channel c's formula offset by
    c·STEREO_OFF; n_samples counts all decoded values, 2 per frame),
    % 8 == 6 → SIX-channel 16-bit (5.1 layout — r6 widened the
    decoder's {1,2} channel gate to the practical 1..8 range),
    % 8 ∈ {1, 5} → mono 24-BIT PCM (3-byte little-endian samples
    with sign extension from bit 23, plus the RIFF word-alignment pad
    an odd byte count forces), % 16 == 3 → G.711 µ-LAW (format tag 7,
    8-bit bytes expanded through the CCITT sign/exponent/mantissa
    arithmetic — r6), % 16 == 11 → G.711 A-LAW (format tag 6, the
    XOR-0x55 segment expansion — r11 completes the telephony pair),
    % 8 == 7 → IEEE FLOAT32 (format tag 3,
    rendered to PCM16 via floor(f·32768); the synthesized floats are
    the mono-16 formula over 32768, exactly representable, so the
    render is bit-exact — r6). All decode through the same RIFF chunk
    walk; the oracle recomputes the amplitude stats from each leg's
    formula (for µ-law it expands the BYTE formula with the same
    G.711 arithmetic in SQL)."""
    from queryengine_spark.multimodal.wav import (
        synthesize_wav_mixed,
        wav_sample_stats,
    )

    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return wav_sample_stats(synthesize_wav_mixed(spread(ids)))


from queryengine_spark.multimodal.wav import (  # noqa: E402
    ALAW_A_MULT,
    ALAW_I_MULT,
    STEREO_OFF,
    ULAW_A_MULT,
    ULAW_BIAS,
    ULAW_I_MULT,
    WAV24_A_MULT,
    WAV24_HALF,
    WAV24_I_MULT,
    WAV24_MOD,
    WAV_A_MULT,
    WAV_I_MULT,
    WAV_N_MOD,
    WAV_S_MOD,
)


MULTIMODAL_WAV_DECODE_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id,
               CAST(8000 + 1000 * (asset_id % 4) AS INT) AS sample_rate,
               CAST(64 + asset_id % {WAV_N_MOD} AS BIGINT) AS n_frames
        FROM ids),
-- v is the COMPLEMENTED µ-law byte of the %16=3 leg (G.711 stores
-- µ-law bytes complemented) or the XOR-0x55 A-law byte of the
-- %16=11 leg (r11); NULL on every other leg
smp0 AS (SELECT asset_id, sample_rate, n_frames,
                CAST(t.i AS BIGINT) AS i, CAST(c.ch AS BIGINT) AS ch,
                CASE WHEN asset_id % 16 = 3
                     THEN 255 - ((asset_id * {ULAW_A_MULT}
                                  + CAST(t.i AS BIGINT) * {ULAW_I_MULT}) % 256)
                     WHEN asset_id % 16 = 11
                     THEN xor((asset_id * {ALAW_A_MULT}
                               + CAST(t.i AS BIGINT) * {ALAW_I_MULT}) % 256,
                              85)
                END AS v
         FROM par,
              unnest(range(0, n_frames)) t(i),
              unnest(CASE WHEN asset_id % 8 = 6 THEN [0, 1, 2, 3, 4, 5]
                          WHEN asset_id % 8 = 2 THEN [0, 1]
                          ELSE [0] END) c(ch)
         WHERE asset_id % 2 = 0 OR c.ch = 0),
smp AS (SELECT asset_id, sample_rate, n_frames,
               CASE
               WHEN asset_id % 16 = 3 THEN
                 -- G.711 µ-law: mag = ((v%16)·8 + bias)·2^((v//16)%8) − bias,
                 -- negated when the sign bit (v ≥ 128) is set
                 (CASE WHEN v >= 128 THEN -1 ELSE 1 END)
                 * (((v % 16) * 8 + {ULAW_BIAS})
                    * (1::BIGINT << ((v // 16) % 8)) - {ULAW_BIAS})
               WHEN asset_id % 16 = 11 THEN
                 -- G.711 A-law (r11): t = (v%16)·16 + 8 for segment 0
                 -- else ((v%16)·16 + 264) << (seg−1); sign bit SET is
                 -- POSITIVE in A-law
                 (CASE WHEN v >= 128 THEN 1 ELSE -1 END)
                 * (CASE WHEN (v // 16) % 8 = 0 THEN (v % 16) * 16 + 8
                         ELSE ((v % 16) * 16 + 264)
                              * (1::BIGINT << ((v // 16) % 8 - 1)) END)
               WHEN asset_id % 8 = 7 THEN
                 -- float32 leg renders back to the mono-16 formula
                 (asset_id * {WAV_A_MULT} + i * {WAV_I_MULT}) % {WAV_S_MOD} - 32768
               WHEN asset_id % 2 = 1 THEN
                 (asset_id * {WAV24_A_MULT} + i * {WAV24_I_MULT}) % {WAV24_MOD} - {WAV24_HALF}
               ELSE
                 (asset_id * {WAV_A_MULT} + i * {WAV_I_MULT}
                  + ch * {STEREO_OFF}) % {WAV_S_MOD} - 32768
               END AS s
        FROM smp0)
SELECT asset_id, sample_rate,
       CAST(CASE WHEN asset_id % 8 = 6 THEN 6 * n_frames
                 WHEN asset_id % 8 = 2 THEN 2 * n_frames
                 ELSE n_frames END AS BIGINT) AS n_samples,
       CAST(SUM(s) AS BIGINT) AS sum_amp,
       CAST(SUM(s * s) AS BIGINT) AS sum_sq,
       CAST(MAX(abs(s)) AS INT) AS max_amp
FROM smp
GROUP BY asset_id, sample_rate, n_frames
"""

# r8: registered through the multimodal_audio_suite composite below


from queryengine_spark.multimodal.jpeg import (  # noqa: E402
    AC_MOD,
    AC_MULT,
    AC_POSITIONS,
    AC_SHIFT,
    IDCT_B,
    IDCT_BIAS,
    IDCT_SHIFT,
    QUANT_AC,
    QUANT_DC,
    RGB_CB_B,
    RGB_CB_G,
    RGB_CR_G,
    RGB_CR_R,
    ZIGZAG_NAT,
)
from queryengine_spark.multimodal.phash import (  # noqa: E402
    PH_B,
    PH_DELTA_BASE,
    PH_DELTA_MOD,
    PH_G,
    PH_H_MOD,
    PH_R,
    PH_W_MOD,
    PHJ_C_MULT,
    PHJ_DC,
    PHJ_DC_MOD,
    PHJ_DC_OFF,
    PHJ_DELTA_BASE,
    PHJ_DELTA_MOD,
    image_near_dup_pairs,
)

#: fixed-point IDCT basis + planted-position map as SQL VALUES rows —
#: same single-source-of-truth pattern as the jpeg decode oracle
_IDCTB_ROWS = ", ".join(
    f"({u}, {t}, {IDCT_B[u][t]})" for u in range(8) for t in range(8)
)
_ZZUV_ROWS = ", ".join(
    f"({p}, {ZIGZAG_NAT[p] % 8}, {ZIGZAG_NAT[p] // 8})" for p in AC_POSITIONS
)


def _phj_dc_sql(bx: str, by: str) -> str:
    """Quantized-domain DC of the phash JPEG leg (incl. the variant's
    single-block shift) as SQL over dims columns gid/variant/i0/j0/
    delta_j."""
    return (
        f"(({PHJ_DC[0]})*({bx}) + ({PHJ_DC[1]})*({by}) + ({PHJ_DC[2]})*gid)"
        f" % {PHJ_DC_MOD} + ({PHJ_DC_OFF})"
        f" + CASE WHEN variant = 1 AND ({bx}) = i0 AND ({by}) = j0"
        f" THEN delta_j ELSE 0 END"
    )


def _phj_ac_sql(bx: str, by: str) -> str:
    """Dequantized planted AC coefficient (shared block_ac formula on
    gid, position from the joined zzuv row zz.p)."""
    return (
        f"{QUANT_AC} * (CASE WHEN v0 >= 0 THEN v0 + 1 ELSE v0 END)"
    )


def _phj_fdiv1000(num: str) -> str:
    """FLOOR division by 1000 (DuckDB // truncates; RGB numerators go
    negative) — the repo's floor-mod idiom."""
    return f"((({num}) - ((({num}) % 1000) + 1000) % 1000) // 1000)"


def _phj_chroma_sql(c: int, bx: str, by: str) -> str:
    """Chroma DC (= Cb/Cr − 128) of the r8 color sub-leg as SQL —
    phj_dc_chroma mirrored (no variant shift; luma-only plant)."""
    return (
        f"(({PHJ_DC[0]})*({bx}) + ({PHJ_DC[1]})*({by})"
        f" + ({PHJ_DC[2]})*gid + {PHJ_C_MULT * c})"
        f" % {PHJ_DC_MOD} + ({PHJ_DC_OFF})"
    )


def _phj_rgb_sql(bx: str, by: str) -> tuple[str, str, str]:
    """(R, G, B) of the color DC sub-leg (gid % 8 == 2): Y = phj_dc
    + 128 (variant shift included), chroma from _phj_chroma_sql,
    pinned ×1000 integer Rec.601 with floor division and clamps —
    exactly multimodal/jpeg.py::ycc_to_rgb_int."""
    yv = f"({_phj_dc_sql(bx, by)} + 128)"
    cb = f"({_phj_chroma_sql(1, bx, by)})"
    cr = f"({_phj_chroma_sql(2, bx, by)})"
    r = (f"GREATEST(0, LEAST(255, {yv}"
         f" + {_phj_fdiv1000(f'{RGB_CR_R} * {cr} + 500')}))")
    g = (f"GREATEST(0, LEAST(255, {yv}"
         f" - {_phj_fdiv1000(f'{RGB_CB_G} * {cb} + {RGB_CR_G} * {cr} + 500')}))")
    b = (f"GREATEST(0, LEAST(255, {yv}"
         f" + {_phj_fdiv1000(f'{RGB_CB_B} * {cb} + 500')}))")
    return r, g, b


_PHJ_V0 = (
    "(gid + 7 * ({bx}) + 11 * ({by}) + 53 * CAST(zz.p AS BIGINT))"
    f" * {AC_MULT} % {AC_MOD} - {AC_SHIFT}"
)

#: the shared clamp/shift tail of the fixed-point IDCT in SQL
_IDCT_PIX = (
    "GREATEST(0, LEAST(255, 128 + CAST(floor("
    f"(SUM(t.f * bu.bb * bv.bb) + {IDCT_BIAS}) / {1 << (2 * IDCT_SHIFT)}.0"
    ") AS BIGINT)))"
)


def dedup_image_phash(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash image dedup (r6; corpus widened r7) — the
    decoder matrix feeding the dedup pillar: synthesize a mixed
    BMP / PNG / JPEG / TIFF corpus (gid % 4 — web image corpora are
    mostly JPEG, so the r7 routing closes the verdict's phash gap)
    where each even/odd asset pair renders the same image with one
    grid cell brightness-shifted, REALLY decode every container
    (magic-byte dispatch; JPEG through the r7 fixed-point-IDCT pixel
    path), fingerprint with an integer-exact 9×8 dHash, and find
    all pairs within Hamming distance 3 via the banded equi-join
    shared with text SimHash (exact by pigeonhole, no all-pairs).
    The JPEG leg's 9×8 block grid is ALIGNED to the dHash grid (one
    block = one cell) and the planted perturbation is luma-DC-only,
    so it stays a ≤ 2-bit flip; the gid%8=2 sub-leg is a 3-component
    4:4:4 COLOR container since r8 — decoded to real RGB through the
    pinned integer Rec.601 path, so the hash covers color, not
    replicated luma — and the gid%8=6 sub-leg carries REAL AC spectra
    (r7) whose pixels — and therefore whose cell sums — both engines
    compute through the same fixed-point integer IDCT arithmetic. The oracle recomputes fingerprints from
    the pixel FORMULA and compares all pairs — a hash match
    certifies all four decoders, the luma/downsample/difference
    arithmetic, the hex encoding, and the banded search's exactness
    in one number. Design doc: multimodal/phash.py."""
    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return image_near_dup_pairs(spread(ids), max_dist=3, n_bands=4)


#: rendered (R, G, B) of the color JPEG DC sub-leg at source pixel
#: (x, y) — block (x//8, y//8); shared by the phash and image-ops
#: oracles
_PHJ_RGB = _phj_rgb_sql("x//8", "y//8")

DEDUP_IMAGE_PHASH_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id, asset_id // 2 AS gid, asset_id % 2 AS variant FROM ids),
dims AS (SELECT asset_id, gid, variant,
                CAST(CASE WHEN gid % 4 = 2 THEN 72
                     ELSE 16 + gid % {PH_W_MOD} END AS BIGINT) AS w,
                CAST(CASE WHEN gid % 4 = 2 THEN 64
                     ELSE 16 + gid % {PH_H_MOD} END AS BIGINT) AS h,
                1 + gid % 7 AS i0, gid % 8 AS j0,
                {PH_DELTA_BASE} + gid % {PH_DELTA_MOD} AS delta,
                {PHJ_DELTA_BASE} + gid % {PHJ_DELTA_MOD} AS delta_j
         FROM par),
px AS (SELECT asset_id, gid, variant, w, h, i0, j0, delta, delta_j,
              CAST(xx.i AS BIGINT) AS x, CAST(yy.i AS BIGINT) AS y
       FROM dims, unnest(range(0, w)) xx(i), unnest(range(0, h)) yy(i)),
-- r7: the gid%4=2 leg is grayscale JPEG whose 9×8 block grid aligns
-- with the dHash grid (w=72, h=64 → cell (cx,cy) = block (x//8,
-- y//8)); the variant shifts block (i0, j0)'s DC additively. The
-- gid%8=2 sub-leg is DC-only (pixel = dc + 128, clamp-free, linear
-- cell sums); gid%8=6 carries the shared block_ac spectra and its
-- pixels replay the fixed-point integer IDCT (idctb below)
idctb AS (SELECT * FROM (VALUES {_IDCTB_ROWS}) AS b(u, tt, bb)),
zzuv AS (SELECT * FROM (VALUES {_ZZUV_ROWS}) AS z(p, uu, vv)),
lum0 AS (SELECT asset_id, (x*9)//w AS cx, (y*8)//h AS cy,
          CASE WHEN gid % 4 = 2 THEN
            -- r8: the DC sub-leg is COLOR 4:4:4 — real Rec.601 luma
            299*({_PHJ_RGB[0]}) + 587*({_PHJ_RGB[1]}) + 114*({_PHJ_RGB[2]})
          ELSE
          299*(CASE WHEN variant = 1 AND (x*9)//w = i0 AND (y*8)//h = j0
               THEN (({PH_R[0]}*x + {PH_R[1]}*y + {PH_R[2]}*gid) % 256 + delta) % 256
               ELSE ({PH_R[0]}*x + {PH_R[1]}*y + {PH_R[2]}*gid) % 256 END)
        + 587*(({PH_G[0]}*x + {PH_G[1]}*y + {PH_G[2]}*gid) % 256)
        + 114*(({PH_B[0]}*x + {PH_B[1]}*y + {PH_B[2]}*gid) % 256)
          END AS l
        FROM px WHERE gid % 8 <> 6),
jterm AS (
  SELECT d.asset_id, CAST(bx.i AS BIGINT) AS bx, CAST(by.i AS BIGINT) AS by,
         0 AS uu, 0 AS vv,
         CAST({QUANT_DC} * ({_phj_dc_sql("CAST(bx.i AS BIGINT)", "CAST(by.i AS BIGINT)")}) AS BIGINT) AS f
  FROM dims d, unnest(range(0, 9)) bx(i), unnest(range(0, 8)) by(i)
  WHERE d.gid % 8 = 6
  UNION ALL
  SELECT d.asset_id, CAST(bx.i AS BIGINT), CAST(by.i AS BIGINT), zz.uu, zz.vv,
         CAST({_phj_ac_sql("bx.i", "by.i")} AS BIGINT)
  FROM dims d, unnest(range(0, 9)) bx(i), unnest(range(0, 8)) by(i), zzuv zz,
       LATERAL (SELECT {_PHJ_V0.format(bx="CAST(bx.i AS BIGINT)", by="CAST(by.i AS BIGINT)")} AS v0) q0
  WHERE d.gid % 8 = 6),
jpx AS (
  SELECT t.asset_id, t.bx, t.by, {_IDCT_PIX} AS pixv
  FROM jterm t JOIN idctb bu ON bu.u = t.uu JOIN idctb bv ON bv.u = t.vv
  GROUP BY t.asset_id, t.bx, t.by, bu.tt, bv.tt),
lum1 AS (SELECT asset_id, bx AS cx, by AS cy, 1000 * pixv AS l FROM jpx),
lum AS (SELECT * FROM lum0 UNION ALL SELECT * FROM lum1),
cells AS (SELECT asset_id, cx, cy, CAST(SUM(l) AS BIGINT) AS s, COUNT(*) AS n
          FROM lum GROUP BY 1, 2, 3),
bits AS (SELECT a.asset_id, a.cy*8 + a.cx AS k,
                CASE WHEN a.s*b.n > b.s*a.n THEN 1 ELSE 0 END AS bit
         FROM cells a JOIN cells b
           ON a.asset_id = b.asset_id AND a.cy = b.cy AND b.cx = a.cx + 1
         WHERE a.cx < 8),
fp AS (SELECT asset_id,
              CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << (31 - k)) ELSE 0 END) AS BIGINT) AS hi,
              CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (63 - k)) ELSE 0 END) AS BIGINT) AS lo
       FROM bits GROUP BY 1)
SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
"""

QUERIES["dedup_image_phash"] = (dedup_image_phash, DEDUP_IMAGE_PHASH_SQL)


# ------------------------------------------------- r6 media ops

from queryengine_spark.multimodal.mediaops import (  # noqa: E402
    AF_WIN,
    FRAME_STRIDE,
    RZ_H,
    RZ_W,
    audio_frame_features,
    gif_frame_sample,
    image_ops_stats,
)


def multimodal_image_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Resize + center-crop over really-decoded pixels (r6; corpus
    widened r7): the phash corpus (gid % 4 → 24-bit BMP / RGBA PNG /
    JPEG (COLOR 4:4:4 DC-only since r8, and the r7 grayscale
    AC-BEARING sub-leg) / RGB TIFF
    — the RGB legs render one pixel formula, the JPEG legs their
    block formulas through the fixed-point-IDCT pixel path) → magic-byte decode →
    nearest-neighbor resize to
    8×8 and center crop to (w//2, h//2) → exact integer channel sums
    of both outputs. The oracle recomputes every resized/cropped pixel
    from the formula via the same index maps, so the hash certifies
    the NN source-coordinate arithmetic and the crop origin exactly —
    on top of the decoders themselves. Design doc:
    multimodal/mediaops.py."""
    from queryengine_spark.multimodal.phash import synthesize_phash_assets

    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return image_ops_stats(synthesize_phash_assets(spread(ids)))


MULTIMODAL_IMAGE_OPS_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
dims AS (SELECT asset_id, asset_id // 2 AS gid, asset_id % 2 AS variant,
                CAST(CASE WHEN (asset_id // 2) % 4 = 2 THEN 72
                     ELSE 16 + (asset_id // 2) % {PH_W_MOD} END AS BIGINT) AS w,
                CAST(CASE WHEN (asset_id // 2) % 4 = 2 THEN 64
                     ELSE 16 + (asset_id // 2) % {PH_H_MOD} END AS BIGINT) AS h,
                1 + (asset_id // 2) % 7 AS i0, (asset_id // 2) % 8 AS j0,
                {PH_DELTA_BASE} + (asset_id // 2) % {PH_DELTA_MOD} AS delta,
                {PHJ_DELTA_BASE} + (asset_id // 2) % {PHJ_DELTA_MOD} AS delta_j
         FROM ids),
pts AS (SELECT asset_id, gid, variant, w, h, i0, j0, delta, delta_j, 0 AS leg,
               (CAST(dx.i AS BIGINT) * w) // {RZ_W} AS x,
               (CAST(dy.i AS BIGINT) * h) // {RZ_H} AS y
        FROM dims, unnest(range(0, {RZ_W})) dx(i), unnest(range(0, {RZ_H})) dy(i)
        UNION ALL
        SELECT asset_id, gid, variant, w, h, i0, j0, delta, delta_j, 1,
               (w - w // 2) // 2 + CAST(xx.i AS BIGINT),
               (h - h // 2) // 2 + CAST(yy.i AS BIGINT)
        FROM dims, unnest(range(0, w // 2)) xx(i), unnest(range(0, h // 2)) yy(i)),
-- r7: the gid%4=2 leg is the grayscale JPEG family — every channel
-- reads the same gray value (block = (x//8, y//8), the variant
-- shifts block (i0, j0) additively). gid%8=2 is DC-only (clamp-free
-- dc + 128); gid%8=6 carries the shared block_ac spectra, so its
-- sampled pixels replay the fixed-point integer IDCT: pixel values
-- are computed once per DISTINCT sampled source coordinate (jsrc)
-- and joined back onto every dst sample, preserving NN duplicates
idctb AS (SELECT * FROM (VALUES {_IDCTB_ROWS}) AS b(u, tt, bb)),
zzuv AS (SELECT * FROM (VALUES {_ZZUV_ROWS}) AS z(p, uu, vv)),
ch0 AS (SELECT asset_id, w, h, leg,
              -- r8: the gid%8=2 JPEG sub-leg is COLOR 4:4:4 (integer
              -- Rec.601 from the planted Y/Cb/Cr block DCs)
              CASE WHEN gid % 4 = 2 THEN
                {_PHJ_RGB[0]}
              WHEN variant = 1 AND (x*9)//w = i0 AND (y*8)//h = j0
                   THEN (({PH_R[0]}*x + {PH_R[1]}*y + {PH_R[2]}*gid) % 256 + delta) % 256
                   ELSE ({PH_R[0]}*x + {PH_R[1]}*y + {PH_R[2]}*gid) % 256 END AS r,
              CASE WHEN gid % 4 = 2 THEN
                {_PHJ_RGB[1]}
              ELSE ({PH_G[0]}*x + {PH_G[1]}*y + {PH_G[2]}*gid) % 256 END AS g,
              CASE WHEN gid % 4 = 2 THEN
                {_PHJ_RGB[2]}
              ELSE ({PH_B[0]}*x + {PH_B[1]}*y + {PH_B[2]}*gid) % 256 END AS b
       FROM pts WHERE gid % 8 <> 6),
jsrc AS (SELECT DISTINCT asset_id, gid, variant, i0, j0, delta_j, x, y
         FROM pts WHERE gid % 8 = 6),
jterm2 AS (
  SELECT s.asset_id, s.x, s.y, 0 AS uu, 0 AS vv,
         CAST({QUANT_DC} * ({_phj_dc_sql("s.x//8", "s.y//8")}) AS BIGINT) AS f
  FROM jsrc s
  UNION ALL
  SELECT s.asset_id, s.x, s.y, zz.uu, zz.vv,
         CAST({_phj_ac_sql("s.x//8", "s.y//8")} AS BIGINT)
  FROM jsrc s, zzuv zz,
       LATERAL (SELECT {_PHJ_V0.format(bx="s.x//8", by="s.y//8")} AS v0) q0),
jpx2 AS (
  SELECT t.asset_id, t.x, t.y, {_IDCT_PIX} AS pixv
  FROM jterm2 t
  JOIN idctb bu ON bu.u = t.uu AND bu.tt = t.x % 8
  JOIN idctb bv ON bv.u = t.vv AND bv.tt = t.y % 8
  GROUP BY t.asset_id, t.x, t.y),
ch1 AS (SELECT p.asset_id, p.w, p.h, p.leg,
               j.pixv AS r, j.pixv AS g, j.pixv AS b
        FROM pts p JOIN jpx2 j
          ON j.asset_id = p.asset_id AND j.x = p.x AND j.y = p.y
        WHERE p.gid % 8 = 6),
ch AS (SELECT * FROM ch0 UNION ALL SELECT * FROM ch1)
SELECT asset_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(SUM(CASE WHEN leg = 0 THEN r ELSE 0 END) AS BIGINT) AS rz_sum_r,
       CAST(SUM(CASE WHEN leg = 0 THEN g ELSE 0 END) AS BIGINT) AS rz_sum_g,
       CAST(SUM(CASE WHEN leg = 0 THEN b ELSE 0 END) AS BIGINT) AS rz_sum_b,
       CAST(SUM(CASE WHEN leg = 1 THEN r ELSE 0 END) AS BIGINT) AS cr_sum_r,
       CAST(SUM(CASE WHEN leg = 1 THEN g ELSE 0 END) AS BIGINT) AS cr_sum_g,
       CAST(SUM(CASE WHEN leg = 1 THEN b ELSE 0 END) AS BIGINT) AS cr_sum_b
FROM ch GROUP BY asset_id, w, h
"""



from queryengine_spark.multimodal.gif import (  # noqa: E402
    ANIM_FM,
    GIF_H_MOD,
    GIF_IDX_XM,
    GIF_IDX_YM,
    GIF_W_MOD,
    PAL_BM,
    PAL_GM,
    PAL_RM,
)


def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Animation frame sampling (r6): synthesize ANIMATED GIF89a
    containers (NETSCAPE loop + per-frame GCE delays), really decode
    every frame via the multi-image LZW walk, keep frames f % 2 == 0
    — one row per sampled frame with its GCE delay and exact channel
    sums. The oracle recomputes frames, delays and sums from the
    anim_index / palette / delay formulas, so the hash certifies the
    frame walk order, GCE→frame delay binding AND the sampling
    arithmetic. Design doc: multimodal/mediaops.py."""
    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return gif_frame_sample(spread(ids), stride=FRAME_STRIDE)


MULTIMODAL_FRAME_SAMPLE_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id,
               CAST(6 + asset_id % {GIF_W_MOD} AS BIGINT) AS w,
               CAST(5 + asset_id % {GIF_H_MOD} AS BIGINT) AS h,
               2 + asset_id % 3 AS nf
        FROM ids),
fr AS (SELECT asset_id, w, h, CAST(ff.i AS BIGINT) AS f
       FROM par, unnest(range(0, nf)) ff(i)
       WHERE ff.i % {FRAME_STRIDE} = 0),
px AS (SELECT asset_id, f, w, h,
              (CAST(xx.i AS BIGINT) * {GIF_IDX_XM}
               + CAST(yy.i AS BIGINT) * {GIF_IDX_YM}
               + asset_id + {ANIM_FM} * f) % 256 AS j
       FROM fr, unnest(range(0, w)) xx(i), unnest(range(0, h)) yy(i))
SELECT asset_id, CAST(f AS INT) AS frame_idx,
       CAST(4 + (asset_id + f) % 10 AS INT) AS delay_cs,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(({PAL_RM} * j) % 256) AS BIGINT) AS sum_r,
       CAST(SUM(({PAL_GM} * j + 1) % 256) AS BIGINT) AS sum_g,
       CAST(SUM(({PAL_BM} * j + 2) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY asset_id, f, w, h
"""



def multimodal_audio_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Audio framing (r6): synthesize mono 16-bit PCM WAVs, really
    decode through the RIFF chunk walk, frame into non-overlapping
    32-sample windows — one row per window with exact int64 energy
    (Σ s²) and the zero-crossing count, the front half of any VAD /
    silence-trim stage. The oracle regenerates the waveform from the
    sample formula and re-derives windows/energy/crossings in SQL.
    Design doc: multimodal/mediaops.py."""
    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return audio_frame_features(spread(ids), win=AF_WIN)


MULTIMODAL_AUDIO_FRAMES_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id, CAST(64 + asset_id % {WAV_N_MOD} AS BIGINT) AS n
        FROM ids),
smp AS (SELECT asset_id, CAST(t.i AS BIGINT) AS i,
               (asset_id * {WAV_A_MULT} + CAST(t.i AS BIGINT) * {WAV_I_MULT})
                 % {WAV_S_MOD} - 32768 AS s
        FROM par, unnest(range(0, n)) t(i)),
wn AS (SELECT asset_id, i, s, CAST(i // {AF_WIN} AS INT) AS win_idx,
              CASE WHEN i % {AF_WIN} > 0
                        AND (lag(s) OVER (PARTITION BY asset_id ORDER BY i) < 0)
                            <> (s < 0)
                   THEN 1 ELSE 0 END AS zc1
       FROM smp)
SELECT asset_id, win_idx, CAST(COUNT(*) AS INT) AS n,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(SUM(zc1) AS INT) AS zc
FROM wn GROUP BY asset_id, win_idx
"""



from queryengine_spark.multimodal.tiff import (  # noqa: E402
    TIF_B,
    TIF_G,
    TIF_GRAY0,
    TIF_GRAY1,
    TIF_GRAY3,
    TIF_GRAY6,
    TIF_GRAY10,
    TIF_H_MOD,
    TIF_R,
    TIF_TILE,
    TIF_W_MOD,
    synthesize_tiff,
    tiff_pixel_stats,
)


def multimodal_tiff_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Baseline TIFF 6.0 decode (r6; LZW + deflate r8) — mixed
    profiles by asset_id % 4 (the %4==2 slot split %8): uncompressed
    RGB little-endian / PACKBITS-compressed grayscale BIG-endian /
    uncompressed WhiteIsZero grayscale (value-inverted per the
    fax/scan convention, %8==2) / DEFLATE-compressed grayscale
    (compression 8, real zlib inflation, legacy 32946 alias — %8==6,
    r8) / LZW-compressed grayscale with Predictor 2 horizontal
    differencing (TIFF 6.0 §13+§14, MSB-first EarlyChange codes —
    the format's most common historical codec, big-endian). All profiles use RowsPerStrip 4 so
    the multi-strip walk (StripOffsets / StripByteCounts arrays,
    stored out-of-line) is really exercised, and the RGB leg's
    BitsPerSample is a 3-SHORT out-of-line array — the IFD
    value-vs-offset rule in both byte orders. The oracle recomputes
    channel sums from the pixel formulas, so the hash certifies the
    IFD walk, byte-order handling, strip assembly, the real PackBits,
    LZW AND deflate decompressors, the predictor accumulation AND the
    photometric inversion.

    r9 (verdict items 4 + 8): three new profile slots close the last
    layout gaps — ≡10 (mod 16) TILED LZW+Predictor-2 grayscale and
    ≡14 (mod 32) TILED deflate RGB (TIFF 6.0 §15: 16×16 tiles over
    dims enlarged by one full tile, so the walk really crosses tile
    boundaries; edge tiles padded with 0xAB, which the formula oracle
    turns into a tripwire — a decoder that blits padding or
    mis-strides a tile row breaks the sums), and ≡30 (mod 32)
    PLANAR-CONFIGURATION-2 PackBits RGB (separate per-sample strip
    planes recombined per pixel). The refusal list is now
    JPEG-in-TIFF only. Design doc: multimodal/tiff.py."""
    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return tiff_pixel_stats(synthesize_tiff(spread(ids)))


_TIF_GRAY1_EXPR = (
    f"((x // 4) * {TIF_GRAY1[0]} + {TIF_GRAY1[1]}*y"
    f" + {TIF_GRAY1[2]}*asset_id) % 256"
)
_TIF_GRAY0_EXPR = (
    f"255 - ({TIF_GRAY0[0]}*x + {TIF_GRAY0[1]}*y"
    f" + {TIF_GRAY0[2]}*asset_id) % 256"
)
_TIF_GRAY3_EXPR = (
    f"({TIF_GRAY3[0]}*x + {TIF_GRAY3[1]}*y"
    f" + {TIF_GRAY3[2]}*asset_id) % 256"
)
_TIF_GRAY6_EXPR = (
    f"({TIF_GRAY6[0]}*x + {TIF_GRAY6[1]}*y"
    f" + {TIF_GRAY6[2]}*asset_id) % 256"
)
_TIF_GRAY10_EXPR = (
    f"({TIF_GRAY10[0]}*x + {TIF_GRAY10[1]}*y"
    f" + {TIF_GRAY10[2]}*asset_id) % 256"
)


from queryengine_spark.multimodal.jpeg import (  # noqa: E402
    DC_MOD as _JDC_MOD,
    DC_MULT as _JDC_MULT,
    DC_OFF as _JDC_OFF,
)

#: the JPEG-in-TIFF leg's pixel formula (r9): each 8-row strip is a
#: real baseline JPEG whose block DCs carry the block_dc formula —
#: pixel = dc + 128, block-constant on the global (x//8, y//8) grid
_TIF_JPEG_EXPR = (
    f"((asset_id + 13*(x // 8) + 31*(y // 8)) * {_JDC_MULT})"
    f" % {_JDC_MOD} + ({_JDC_OFF}) + 128"
)


def _tif_ch_expr(coef: tuple[int, int, int]) -> str:
    """Per-channel pixel CASE over the FULL r9 profile map: %4 ∈
    {0,1,3} legs, then the %4==2 slot split %8/%16/%32 — ≡10 (mod 16)
    tiled LZW gray, ≡14 (mod 32) tiled deflate RGB, ≡30 (mod 32)
    planar-2 PackBits RGB, ≡6 (mod 8) deflate gray, else WhiteIsZero.
    The tiled/planar RGB legs reuse the leg-0 channel formulas (the
    dims CTE distinguishes them)."""
    rgb = f"({coef[0]}*x + {coef[1]}*y + {coef[2]}*asset_id) % 256"
    return f"""
              CASE
                WHEN asset_id % 4 = 0 THEN {rgb}
                WHEN asset_id % 4 = 1 THEN {_TIF_GRAY1_EXPR}
                WHEN asset_id % 4 = 3 THEN {_TIF_GRAY3_EXPR}
                WHEN asset_id % 32 = 18 THEN {_TIF_JPEG_EXPR}
                WHEN asset_id % 16 = 10 THEN {_TIF_GRAY10_EXPR}
                WHEN asset_id % 32 = 14 OR asset_id % 32 = 30 THEN {rgb}
                WHEN asset_id % 8 = 6 THEN {_TIF_GRAY6_EXPR}
                ELSE {_TIF_GRAY0_EXPR} END"""


#: the full per-pixel channel CASE of the TIFF corpus — shared by the
#: decode-leg oracle and the r8 augmentation-leg oracle
_TIF_CH_SQL = (
    f"{_tif_ch_expr(TIF_R)} AS r,"
    f"{_tif_ch_expr(TIF_G)} AS g,"
    f"{_tif_ch_expr(TIF_B)} AS b"
)

#: shared dims/pixel lattice of the TIFF corpus (r9: the tiled legs —
#: ≡10 mod 16, ≡14 mod 32 — enlarge both dims by one full 16-px tile)
_TIF_PX_CTE = f"""
dims AS (SELECT asset_id,
                CAST(5 + asset_id % {TIF_W_MOD}
                     + CASE WHEN asset_id % 16 = 10 OR asset_id % 32 = 14
                            THEN {TIF_TILE} ELSE 0 END AS BIGINT) AS w,
                CAST(4 + asset_id % {TIF_H_MOD}
                     + CASE WHEN asset_id % 16 = 10 OR asset_id % 32 = 14
                            THEN {TIF_TILE} ELSE 0 END AS BIGINT) AS h
         FROM ids),
px AS (SELECT asset_id, w, h, CAST(xx.i AS BIGINT) AS x, CAST(yy.i AS BIGINT) AS y
       FROM dims, unnest(range(0, w)) xx(i), unnest(range(0, h)) yy(i))"""

MULTIMODAL_TIFF_DECODE_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
{_TIF_PX_CTE},
ch AS (SELECT asset_id, w, h,{_TIF_CH_SQL}
       FROM px)
SELECT asset_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM ch GROUP BY asset_id, w, h
"""

# r8: registered through the multimodal_image_decode composite
# (queries/addenda.py)


from queryengine_spark.multimodal.avi import (  # noqa: E402
    VID_FM,
    VID_FPS_BASE,
    VID_FPS_MOD,
    VID_NF_BASE,
    VID_NF_MOD,
    synthesize_avi,
    video_frame_stats,
)
from queryengine_spark.multimodal.jpeg import (  # noqa: E402
    DC_MOD,
    DC_MULT,
    DC_OFF,
    JPEG_BH_MOD,
    JPEG_BW_MOD,
)


def multimodal_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    """VIDEO frame sampling over real bytes (r6): synthesize an
    AVI 1.0 / Motion-JPEG container per asset (RIFF hdrl/avih/strl/
    strh/strf headers, word-aligned '00dc' movi chunks, idx1 index
    whose offsets are cross-checked against the walked stream), parse
    it, keep frames f % 2 == 0, and REALLY entropy-decode each
    sampled frame through the in-repo baseline-JPEG decoder — one row
    per sampled frame with its exact luminance sum, the container's
    frame count and the strh-derived fps. The oracle recomputes
    everything from the synthesis formulas (dims constant per video,
    frame f's blocks = the shared JPEG DC formula at the derived id
    a + VID_FM·f), so the hash certifies the RIFF walk, header
    parsing, frame chunk order, idx1 agreement AND the JPEG decode of
    every sampled frame. Design doc: multimodal/avi.py."""
    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return video_frame_stats(synthesize_avi(spread(ids)), stride=2)


MULTIMODAL_VIDEO_FRAMES_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id,
               CAST(1 + asset_id % {JPEG_BW_MOD} AS BIGINT) AS bw,
               CAST(1 + asset_id % {JPEG_BH_MOD} AS BIGINT) AS bh,
               {VID_NF_BASE} + asset_id % {VID_NF_MOD} AS nf,
               CAST({VID_FPS_BASE} + asset_id % {VID_FPS_MOD} AS INT) AS fps
        FROM ids),
fr AS (SELECT asset_id, bw, bh, nf, fps, CAST(ff.i AS BIGINT) AS f
       FROM par, unnest(range(0, nf)) ff(i)
       WHERE ff.i % 2 = 0),
blk AS (SELECT asset_id, f, bw, bh, nf, fps,
               ((asset_id + {VID_FM} * f
                 + 13 * CAST(xx.i AS BIGINT)
                 + 31 * CAST(yy.i AS BIGINT)) * {DC_MULT}) % {DC_MOD}
                 + ({DC_OFF}) AS dc
        FROM fr, unnest(range(0, bw)) xx(i), unnest(range(0, bh)) yy(i))
SELECT asset_id, CAST(f AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames, fps,
       CAST(8 * bw AS INT) AS width, CAST(8 * bh AS INT) AS height,
       CAST(SUM(64 * (dc + 128)) AS BIGINT) AS sum_lum
FROM blk GROUP BY asset_id, f, nf, fps, bw, bh
"""


from queryengine_spark.multimodal.mp4 import (  # noqa: E402
    MP4_FM,
    MP4_FPS_BASE,
    MP4_FPS_MOD,
    MP4_NF_BASE,
    MP4_NF_MOD,
    mp4_frame_stats,
    synthesize_mp4,
)


def multimodal_video_mp4(spark: SparkSession, sf: str) -> DataFrame:
    """MP4/ISO-BMFF frame sampling (r10) — the mainstream-container
    twin of multimodal_video_frames: synthesize a progressive MP4
    per asset (ftyp, mdat with samples chunked TWO PER CHUNK, moov
    with the full stbl sample tables, moov after mdat), resolve each
    sample's byte span through the real stsc/stco/stsz arithmetic,
    keep frames f % 2 == 0, and entropy-decode each sampled frame
    through the in-repo baseline-JPEG decoder — one row per sampled
    frame. The oracle recomputes everything from the synthesis
    formulas (frame f's blocks = the shared JPEG DC formula at the
    derived id a + MP4_FM·f, fps = the mdhd-timescale formula), so
    the hash certifies the box walk, the three-way sample-table
    resolution, mdat containment AND the JPEG decode of every
    sampled frame. Design doc: multimodal/mp4.py."""
    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return mp4_frame_stats(synthesize_mp4(spread(ids)), stride=2)


MULTIMODAL_VIDEO_MP4_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id,
               CAST(1 + asset_id % {JPEG_BW_MOD} AS BIGINT) AS bw,
               CAST(1 + asset_id % {JPEG_BH_MOD} AS BIGINT) AS bh,
               {MP4_NF_BASE} + asset_id % {MP4_NF_MOD} AS nf,
               CAST({MP4_FPS_BASE} + asset_id % {MP4_FPS_MOD} AS INT) AS fps
        FROM ids),
fr AS (SELECT asset_id, bw, bh, nf, fps, CAST(ff.i AS BIGINT) AS f
       FROM par, unnest(range(0, nf)) ff(i)
       WHERE ff.i % 2 = 0),
blk AS (SELECT asset_id, f, bw, bh, nf, fps,
               ((asset_id + {MP4_FM} * f
                 + 13 * CAST(xx.i AS BIGINT)
                 + 31 * CAST(yy.i AS BIGINT)) * {DC_MULT}) % {DC_MOD}
                 + ({DC_OFF}) AS dc
        FROM fr, unnest(range(0, bw)) xx(i), unnest(range(0, bh)) yy(i))
SELECT asset_id, CAST(f AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames, fps,
       CAST(8 * bw AS INT) AS width, CAST(8 * bh AS INT) AS height,
       CAST(SUM(64 * (dc + 128)) AS BIGINT) AS sum_lum
FROM blk GROUP BY asset_id, f, nf, fps, bw, bh
"""



def multimodal_scene_cuts(spark: SparkSession, sf: str) -> DataFrame:
    """Scene-cut detection (r6) — the keyframe-selection pass a video
    pipeline runs before captioning/embedding: decode EVERY frame of
    each AVI (stride 1 — cut detection needs consecutive frames),
    compute the absolute luminance delta between consecutive frames,
    and emit the cut frame (argmax delta, ties to the earliest
    frame) with its delta. Integer-exact end-to-end: per-frame sums
    come from the real JPEG decode, the argmax is a window rank.
    Videos with one sampled frame emit no row (no pair exists) —
    nf ≥ 2 by synthesis, so every asset appears. The oracle
    recomputes the frame sums from the DC formulas and re-derives
    the same argmax."""
    from pyspark.sql import Window

    frames = video_frame_stats(synthesize_avi(spread(
        t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    )), stride=1)
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    deltas = (
        frames.withColumn("prev", F.lag("sum_lum").over(w))
        .filter(F.col("prev").isNotNull())
        .withColumn("delta", F.abs(F.col("sum_lum") - F.col("prev")))
    )
    rank = Window.partitionBy("asset_id").orderBy(
        F.col("delta").desc(), F.col("frame_idx").asc()
    )
    return (
        deltas.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") == 1)
        .select(
            "asset_id",
            "n_frames",
            F.col("frame_idx").cast("int").alias("cut_frame"),
            F.col("delta").cast("bigint").alias("max_delta"),
        )
    )


MULTIMODAL_SCENE_CUTS_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id,
               CAST(1 + asset_id % {JPEG_BW_MOD} AS BIGINT) AS bw,
               CAST(1 + asset_id % {JPEG_BH_MOD} AS BIGINT) AS bh,
               {VID_NF_BASE} + asset_id % {VID_NF_MOD} AS nf
        FROM ids),
blk AS (SELECT asset_id, nf, CAST(ff.i AS BIGINT) AS f,
               ((asset_id + {VID_FM} * CAST(ff.i AS BIGINT)
                 + 13 * CAST(xx.i AS BIGINT)
                 + 31 * CAST(yy.i AS BIGINT)) * {DC_MULT}) % {DC_MOD}
                 + ({DC_OFF}) AS dc
        FROM par, unnest(range(0, nf)) ff(i),
             unnest(range(0, bw)) xx(i), unnest(range(0, bh)) yy(i)),
sums AS (SELECT asset_id, nf, f,
                CAST(SUM(64 * (dc + 128)) AS BIGINT) AS sum_lum
         FROM blk GROUP BY asset_id, nf, f),
deltas AS (SELECT asset_id, nf, f,
                  abs(sum_lum - lag(sum_lum) OVER (
                      PARTITION BY asset_id ORDER BY f)) AS delta
           FROM sums),
ranked AS (SELECT asset_id, nf, f, delta,
                  row_number() OVER (PARTITION BY asset_id
                      ORDER BY delta DESC, f ASC) AS rn
           FROM deltas WHERE delta IS NOT NULL)
SELECT asset_id, CAST(nf AS INT) AS n_frames,
       CAST(f AS INT) AS cut_frame,
       CAST(delta AS BIGINT) AS max_delta
FROM ranked WHERE rn = 1
"""

QUERIES["multimodal_scene_cuts"] = (
    multimodal_scene_cuts,
    MULTIMODAL_SCENE_CUTS_SQL,
)


#: silence threshold for the trim query: per-window energy Σ s² over
#: 32 samples of the full int16 sawtooth averages ≈ 32·(2^15)²/3 ≈
#: 1.1e10; windows below the threshold count as silence
AF_SILENCE_T = 8_000_000_000


def multimodal_audio_trim(spark: SparkSession, sf: str) -> DataFrame:
    """Silence-trim offsets (r6) — the VAD back half over the framed
    audio: from the per-window energies of the really-decoded
    waveform, find the first and last NON-silent window (energy ≥
    AF_SILENCE_T) and report the trim span in windows plus the
    silent-window count. Assets whose every window is silent emit
    first/last = NULL with kept_windows 0 — the drop-candidate a
    pipeline filters on. One extra aggregation over the same decode
    chain as multimodal_audio_frames."""
    feats = audio_frame_features(
        spread(
            t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
        ),
        win=AF_WIN,
    )
    loud = F.when(F.col("energy") >= AF_SILENCE_T, F.col("win_idx"))
    return feats.groupBy("asset_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_windows"),
        F.min(loud).cast("int").alias("first_loud"),
        F.max(loud).cast("int").alias("last_loud"),
        F.sum((F.col("energy") < AF_SILENCE_T).cast("int"))
        .cast("int")
        .alias("n_silent"),
        F.coalesce(
            F.max(loud) - F.min(loud) + 1, F.lit(0)
        )
        .cast("int")
        .alias("kept_windows"),
    )


MULTIMODAL_AUDIO_TRIM_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
par AS (SELECT asset_id, CAST(64 + asset_id % {WAV_N_MOD} AS BIGINT) AS n
        FROM ids),
smp AS (SELECT asset_id, CAST(t.i AS BIGINT) AS i,
               (asset_id * {WAV_A_MULT} + CAST(t.i AS BIGINT) * {WAV_I_MULT})
                 % {WAV_S_MOD} - 32768 AS s
        FROM par, unnest(range(0, n)) t(i)),
wins AS (SELECT asset_id, CAST(i // {AF_WIN} AS INT) AS win_idx,
                CAST(SUM(s * s) AS BIGINT) AS energy
         FROM smp GROUP BY asset_id, CAST(i // {AF_WIN} AS INT))
SELECT asset_id,
       CAST(COUNT(*) AS INT) AS n_windows,
       CAST(MIN(CASE WHEN energy >= {AF_SILENCE_T} THEN win_idx END) AS INT)
         AS first_loud,
       CAST(MAX(CASE WHEN energy >= {AF_SILENCE_T} THEN win_idx END) AS INT)
         AS last_loud,
       CAST(SUM(CASE WHEN energy < {AF_SILENCE_T} THEN 1 ELSE 0 END) AS INT)
         AS n_silent,
       CAST(COALESCE(MAX(CASE WHEN energy >= {AF_SILENCE_T} THEN win_idx END)
                     - MIN(CASE WHEN energy >= {AF_SILENCE_T} THEN win_idx END)
                     + 1, 0) AS INT) AS kept_windows
FROM wins GROUP BY asset_id
"""

# --------------------------------------------------------------- r8 fold
#
# Audio modality suite (verdict item 4): the WAV codec matrix and the
# silence-trim analysis as one leg-tagged composite.

from queryengine_spark.queries.base import fold_legs, fold_sql  # noqa: E402

_AUDIO_SUITE_COLS = [
    ("asset_id", "bigint"),
    ("sample_rate", "int"),
    ("n_samples", "bigint"),
    ("sum_amp", "bigint"),
    ("sum_sq", "bigint"),
    ("max_amp", "int"),
    ("n_windows", "int"),
    ("first_loud", "int"),
    ("last_loud", "int"),
    ("n_silent", "int"),
    ("kept_windows", "int"),
]


def multimodal_audio_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Audio fold (r8): leg 'wav_decode' = the full mixed-profile WAV
    codec matrix (mono/stereo/5.1 16-bit, 24-bit, µ-law, float32
    through the real RIFF walk); leg 'audio_trim' = windowed-energy
    silence trimming. Pre-fold semantics of multimodal_wav_decode /
    multimodal_audio_trim, unchanged."""
    return fold_legs(
        [
            ("wav_decode", multimodal_wav_decode(spark, sf)),
            ("audio_trim", multimodal_audio_trim(spark, sf)),
        ],
        _AUDIO_SUITE_COLS,
    )


MULTIMODAL_AUDIO_SUITE_SQL = fold_sql(
    [
        ("wav_decode", MULTIMODAL_WAV_DECODE_SQL,
         {"asset_id", "sample_rate", "n_samples", "sum_amp", "sum_sq",
          "max_amp"}),
        ("audio_trim", MULTIMODAL_AUDIO_TRIM_SQL,
         {"asset_id", "n_windows", "first_loud", "last_loud", "n_silent",
          "kept_windows"}),
    ],
    _AUDIO_SUITE_COLS,
)

QUERIES["multimodal_audio_suite"] = (
    multimodal_audio_suite,
    MULTIMODAL_AUDIO_SUITE_SQL,
)


def multimodal_image_augment(spark: SparkSession, sf: str) -> DataFrame:
    """Lossless image augmentation (r8): rot90/rot180/rot270/fliplr
    over the really-decoded TIFF corpus — the augmentations run on
    top of the PackBits / LZW+Predictor2 / deflate codecs. Output
    dims certify the w↔h swap; the position-weighted wsum_c columns
    certify the INDEX MAPS (plain channel sums are rotation-invariant
    and ride along as a sanity rail). Design doc:
    multimodal/mediaops.py::image_augment_stats."""
    from queryengine_spark.multimodal.mediaops import image_augment_stats

    ids = t(spark, sf, "documents").select(F.col("doc_id").alias("asset_id"))
    return image_augment_stats(synthesize_tiff(spread(ids)))


# weight over OUTPUT coordinates (1 + x' + 2·y') rewritten onto the
# input lattice per transform — the oracle twin of the numpy maps
MULTIMODAL_IMAGE_AUGMENT_SQL = f"""
WITH ids AS (SELECT doc_id AS asset_id FROM documents),
{_TIF_PX_CTE},
ch AS (SELECT asset_id, w, h, x, y,{_TIF_CH_SQL}
       FROM px),
tr AS (SELECT ch.*, t.tr,
              CASE t.tr
                WHEN 'rot90'  THEN 1 + (h - 1 - y) + 2 * x
                WHEN 'rot180' THEN 1 + (w - 1 - x) + 2 * (h - 1 - y)
                WHEN 'rot270' THEN 1 + y + 2 * (w - 1 - x)
                ELSE               1 + (w - 1 - x) + 2 * y END AS wgt
       FROM ch, unnest(['rot90', 'rot180', 'rot270', 'fliplr']) t(tr))
SELECT asset_id, tr AS transform,
       CAST(CASE WHEN tr IN ('rot90', 'rot270') THEN h ELSE w END AS INT) AS width,
       CAST(CASE WHEN tr IN ('rot90', 'rot270') THEN w ELSE h END AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(wgt * r) AS BIGINT) AS wsum_r,
       CAST(SUM(wgt * g) AS BIGINT) AS wsum_g,
       CAST(SUM(wgt * b) AS BIGINT) AS wsum_b
FROM tr GROUP BY asset_id, tr, w, h
"""


# ---------------------------------------------------------------------------
# r7 fold: the media-transform quartet as ONE leg-tagged composite
# ---------------------------------------------------------------------------

#: shared padded schema of the media suite: (column, spark cast type)
_MEDIA_SUITE_COLS = (
    ("width", "int"),
    ("height", "int"),
    ("rz_sum_r", "bigint"),
    ("rz_sum_g", "bigint"),
    ("rz_sum_b", "bigint"),
    ("cr_sum_r", "bigint"),
    ("cr_sum_g", "bigint"),
    ("cr_sum_b", "bigint"),
    ("frame_idx", "int"),
    ("delay_cs", "int"),
    ("n_px", "bigint"),
    ("sum_r", "bigint"),
    ("sum_g", "bigint"),
    ("sum_b", "bigint"),
    ("win_idx", "int"),
    ("n", "int"),
    ("energy", "bigint"),
    ("zc", "int"),
    ("n_frames", "int"),
    ("fps", "int"),
    ("sum_lum", "bigint"),
    # r8 augment leg
    ("transform", "string"),
    ("wsum_r", "bigint"),
    ("wsum_g", "bigint"),
    ("wsum_b", "bigint"),
)


def _media_pad(df: DataFrame, leg: str) -> DataFrame:
    cols = [F.lit(leg).alias("leg"), F.col("asset_id")]
    for name, typ in _MEDIA_SUITE_COLS:
        if name in df.columns:
            cols.append(F.col(name).cast(typ).alias(name))
        else:
            cols.append(F.lit(None).cast(typ).alias(name))
    return df.select(*cols)


def multimodal_media_suite(spark: SparkSession, sf: str) -> DataFrame:
    """The media-transform quartet folded into one composite (r7 —
    COVERAGE.md rotation note; registry 165 → 162 with zero coverage
    loss, every leg still executes inside this one hash):

    - leg 'image_ops': nearest-neighbor resize + center crop channel
      sums over the really-decoded gid%4 BMP/PNG/JPEG/TIFF corpus;
    - leg 'frame_sample': animated-GIF frame sampling (stride 2) with
      per-frame GCE delays and channel sums;
    - leg 'audio_frames': mono-PCM 32-sample windows with exact
      energy and zero-crossing counts;
    - leg 'video_frames': AVI/MJPEG sampled-frame luminance through
      the real RIFF walk + JPEG decode;
    - leg 'video_mp4' (r10): the same sampling over MP4/ISO-BMFF —
      box walk, stsc/stco/stsz sample-table resolution, mdat spans,
      real JPEG decode (distinct per-frame formula constant);
    - leg 'augment' (r8): rot90/180/270 + horizontal flip over the
      really-decoded TIFF corpus with position-weighted checksums
      (a wrong rotation direction breaks the hash).

    Legs union on a shared padded schema, distinguished by ``leg``;
    each leg's oracle is its pre-fold full statement wrapped as a
    derived table (WITH is legal in subqueries — the r6 fold
    pattern)."""
    return (
        _media_pad(multimodal_image_ops(spark, sf), "image_ops")
        .unionByName(_media_pad(multimodal_frame_sample(spark, sf), "frame_sample"))
        .unionByName(_media_pad(multimodal_audio_frames(spark, sf), "audio_frames"))
        .unionByName(_media_pad(multimodal_video_frames(spark, sf), "video_frames"))
        .unionByName(_media_pad(multimodal_video_mp4(spark, sf), "video_mp4"))
        .unionByName(_media_pad(multimodal_image_augment(spark, sf), "augment"))
    )


def _media_suite_sql() -> str:
    _SQL_T = {"int": "INTEGER", "bigint": "BIGINT", "string": "VARCHAR"}
    legs = (
        ("image_ops", MULTIMODAL_IMAGE_OPS_SQL),
        ("frame_sample", MULTIMODAL_FRAME_SAMPLE_SQL),
        ("audio_frames", MULTIMODAL_AUDIO_FRAMES_SQL),
        ("video_frames", MULTIMODAL_VIDEO_FRAMES_SQL),
        ("video_mp4", MULTIMODAL_VIDEO_MP4_SQL),
        ("augment", MULTIMODAL_IMAGE_AUGMENT_SQL),
    )
    # column presence per leg mirrors each leg's own SELECT list
    present = {
        "image_ops": {"width", "height", "rz_sum_r", "rz_sum_g", "rz_sum_b",
                      "cr_sum_r", "cr_sum_g", "cr_sum_b"},
        "frame_sample": {"frame_idx", "delay_cs", "n_px", "sum_r", "sum_g",
                         "sum_b"},
        "audio_frames": {"win_idx", "n", "energy", "zc"},
        "video_frames": {"frame_idx", "n_frames", "fps", "width", "height",
                         "sum_lum"},
        "video_mp4": {"frame_idx", "n_frames", "fps", "width", "height",
                      "sum_lum"},
        "augment": {"transform", "width", "height", "n_px", "sum_r",
                    "sum_g", "sum_b", "wsum_r", "wsum_g", "wsum_b"},
    }
    parts = []
    for leg, sql in legs:
        cols = [f"'{leg}' AS leg", "asset_id"]
        for name, typ in _MEDIA_SUITE_COLS:
            st = _SQL_T[typ]
            if name in present[leg]:
                cols.append(f"CAST({name} AS {st}) AS {name}")
            else:
                cols.append(f"CAST(NULL AS {st}) AS {name}")
        parts.append(
            "SELECT " + ", ".join(cols) + f" FROM (\n{sql.strip()}\n)"
        )
    return "\nUNION ALL\n".join(parts)


MULTIMODAL_MEDIA_SUITE_SQL = _media_suite_sql()

QUERIES["multimodal_media_suite"] = (
    multimodal_media_suite,
    MULTIMODAL_MEDIA_SUITE_SQL,
)
