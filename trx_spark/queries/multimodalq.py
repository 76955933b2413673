"""Perceptual multimodal dedup in the correctness gate.

The dHash image pipeline (block means → difference bits → 64-bit
fingerprint; `operators/multimodal.py` dhash64/image_neardup_groups)
and the audio energy-delta fingerprint (RMS envelope rise bits;
audio_fingerprint/audio_neardup_groups) are deterministic INTEGER math
end-to-end, so both graduate from tests-only into the DuckDB oracle
gate — the same bar as every other dedup family.

The driver's testdata carries no pixel/audio tables, so each query
generates its fixture the way `reflections_cubic_si` generates its hkl
table: a seedless integer-hash pattern over small ranges, planted with
duplicate groups, expressed with the IDENTICAL arithmetic in Spark and
DuckDB. Copies of the same content are emitted at different integer
GAINS (1×/2×/3×) — the pipelines' fingerprints are invariant under any
positive per-image (per-clip) rescale, so the gate checks the
perceptual property itself, not just the plumbing: three gain-variants
of one content must land in one group.

Exactness notes:
* every block-mean cell aggregates exactly 16 integer pixels (32×36
  image, 8×9 grid), so AVG is an exact sum/16 in binary double — the
  m > m_r comparisons are bit-portable;
* bit 63 wraps negative in Spark's int64 ``shiftleft``; DuckDB raises
  on ``1::BIGINT << 63``, so the oracle special-cases the sign bit to
  the literal −2^63 (partial sums then stay inside int64 on both
  engines: with the sign bit the running sum is in [−2^63, −1]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.operators.multimodal import audio_neardup_groups, image_neardup_groups

# 60 images of 20 distinct contents → 20 groups of 3 gain-variants.
_N_IMG = 60
_N_CONTENT = 20
_IMG_H, _IMG_W = 32, 36  # 8×9 dHash grid ⇒ every cell is exactly 4×4 px

_N_CLIPS = 60
_N_FRAMES = 65  # 64 delta bits need 65 envelope frames


def _image_pixels(spark: SparkSession) -> DataFrame:
    """Deterministic (file, y, x, intensity) pixel table: content
    pattern ((content·997 + y·211 + x·53) mod 1024) at integer gain
    (1 + file mod 3). Generation cross joins are tiny bounded ranges
    (the J4/reflection-list pattern), not data joins."""
    img = spark.range(0, _N_IMG).select(F.col("id").alias("file"))
    ys = spark.range(0, _IMG_H).select(F.col("id").alias("y"))
    xs = spark.range(0, _IMG_W).select(F.col("id").alias("x"))
    base = (
        (F.col("file") % _N_CONTENT) * 997 + F.col("y") * 211 + F.col("x") * 53
    ) % 1024
    gain = F.lit(1) + F.col("file") % 3
    return img.crossJoin(ys).crossJoin(xs).select(
        "file", "y", "x", (gain * base).alias("intensity")
    )


def image_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: perceptual image near-dup groups over the generated
    pixel fixture — (dhash, n_images, keeper_file), one row per
    distinct dHash, smallest file elected keeper."""
    return image_neardup_groups(
        _image_pixels(spark), src_shape=(_IMG_H, _IMG_W)
    ).select("dhash", "n_images", "keeper_file")


_SIGN_BIT = -9223372036854775808  # −2^63: int64 wrap of 1 << 63


def _shift_sql(pos: str) -> str:
    """DuckDB raises on 1::BIGINT << 63 where Spark's shiftleft wraps
    negative — emit the wrapped literal for the sign bit."""
    return (
        f"CASE WHEN {pos} = 63 THEN CAST({_SIGN_BIT} AS BIGINT) "
        f"ELSE CAST(1 AS BIGINT) << ({pos}) END"
    )


_IMAGE_DEDUP_SQL = f"""
WITH img AS (SELECT CAST(f AS BIGINT) AS file FROM range(0, {_N_IMG}) t(f)),
ys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_IMG_H}) t(v)),
xs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_IMG_W}) t(v)),
px AS (
  SELECT file, y, x,
         (1 + file % 3)
           * (((file % {_N_CONTENT}) * 997 + y * 211 + x * 53) % 1024)
           AS intensity
  FROM img, ys, xs
),
grid AS (
  SELECT file,
         CAST(FLOOR(y * 8 / {_IMG_H}) AS INTEGER) AS gy,
         CAST(FLOOR(x * 9 / {_IMG_W}) AS INTEGER) AS gx,
         AVG(intensity) AS m
  FROM px GROUP BY file, gy, gx
),
bits AS (
  SELECT g.file,
         CASE WHEN g.m > r.m
              THEN {_shift_sql('g.gy * 8 + g.gx')}
              ELSE CAST(0 AS BIGINT) END AS b
  FROM grid g JOIN grid r
    ON r.file = g.file AND r.gy = g.gy AND r.gx = g.gx + 1
),
h AS (SELECT file, CAST(SUM(b) AS BIGINT) AS dhash FROM bits GROUP BY file)
SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_images, MIN(file) AS keeper_file
FROM h GROUP BY dhash
"""


def _audio_frames(spark: SparkSession) -> DataFrame:
    """Deterministic (file, frame_idx, rms) envelope table: content
    pattern ((content·241 + frame·113) mod 503) at integer gain."""
    clips = spark.range(0, _N_CLIPS).select(F.col("id").alias("file"))
    frames = spark.range(0, _N_FRAMES).select(F.col("id").alias("frame_idx"))
    base = ((F.col("file") % _N_CONTENT) * 241 + F.col("frame_idx") * 113) % 503
    gain = F.lit(1) + F.col("file") % 3
    return clips.crossJoin(frames).select(
        "file", "frame_idx", (gain * base).alias("rms")
    )


def audio_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: audio fingerprint near-dup groups over the generated
    envelope fixture — (afp, n_clips, keeper_file)."""
    return audio_neardup_groups(_audio_frames(spark)).select(
        "afp", "n_clips", "keeper_file"
    )


_AUDIO_DEDUP_SQL = f"""
WITH clips AS (SELECT CAST(f AS BIGINT) AS file FROM range(0, {_N_CLIPS}) t(f)),
fr AS (SELECT CAST(v AS BIGINT) AS frame_idx FROM range(0, {_N_FRAMES}) t(v)),
feat AS (
  SELECT file, frame_idx,
         (1 + file % 3)
           * (((file % {_N_CONTENT}) * 241 + frame_idx * 113) % 503) AS rms
  FROM clips, fr
),
env AS (
  SELECT file, frame_idx, rms,
         lead(rms) OVER (PARTITION BY file ORDER BY frame_idx) AS rms_next
  FROM feat WHERE frame_idx <= 63 + 1
),
bits AS (
  SELECT file,
         CASE WHEN rms_next > rms
              THEN {_shift_sql('frame_idx')}
              ELSE CAST(0 AS BIGINT) END AS b
  FROM env WHERE frame_idx < 64
),
h AS (SELECT file, CAST(SUM(b) AS BIGINT) AS afp FROM bits GROUP BY file)
SELECT afp, CAST(COUNT(*) AS BIGINT) AS n_clips, MIN(file) AS keeper_file
FROM h GROUP BY afp
"""


# ---------------------------------------------------------------------
# PNG codec gate: the real decoder under the driver hash.
#
# The fixture is generated from a deterministic integer pixel pattern,
# ENCODED to real PNG bytes driver-side (12 tiny blobs — bounded, the
# reflection-list pattern), then decoded by the DISTRIBUTED pipeline
# (binary column → mapInPandas → pixel rows). The oracle never decodes
# PNG: it recomputes the same pattern arithmetically, so any defect in
# the zlib framing, any of the five scanline unfilters (filters="cycle"
# hits all of them), the 16-bit byte order, the RGB→luma reduction, or
# the gzip unwrap (every third blob is gzip-wrapped) shifts the
# position-weighted sums and fails the hash.
# ---------------------------------------------------------------------

_PNG_N = 12
_PNG_H, _PNG_W = 16, 16


def _png_assets(spark: SparkSession) -> DataFrame:
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import encode_png

    yy, xx = np.mgrid[0:_PNG_H, 0:_PNG_W]
    rows = []
    for k in range(_PNG_N):
        base = (k * 997 + yy * 211 + xx * 53) % 1024
        if k < _PNG_N // 2:
            img = base  # 16-bit grayscale (max 1023 > 255)
        else:
            img = np.stack(
                [base % 256, (base * 3) % 256, (base * 7) % 256], axis=-1
            )
        blob = encode_png(img, filters="cycle")
        if k % 3 == 0:
            blob = gzip.compress(blob, mtime=0)
        rows.append((f"png_{k}", bytearray(blob)))
    return spark.createDataFrame(rows, "path string, content binary")


def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: per-file pixel-count, intensity sum and
    position-weighted intensity sum of the REAL distributed PNG decode
    over the generated fixture."""
    from trx_spark.operators.multimodal import decode_image

    px = decode_image(_png_assets(spark), codec="png")
    w = F.col("y").cast("long") * _PNG_W + F.col("x").cast("long") + 1
    return px.groupBy("file").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum(F.col("intensity").cast("long")).alias("i_sum"),
        F.sum(F.col("intensity").cast("long") * w).alias("i_wsum"),
    )


_PNG_DECODE_SQL = f"""
WITH imgs AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, {_PNG_N}) t(k)),
ys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_PNG_H}) t(v)),
xs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_PNG_W}) t(v)),
px AS (
  SELECT k, y, x,
    CASE WHEN k < {_PNG_N // 2}
         THEN (k * 997 + y * 211 + x * 53) % 1024
         ELSE (299 * (((k * 997 + y * 211 + x * 53) % 1024) % 256)
             + 587 * ((((k * 997 + y * 211 + x * 53) % 1024) * 3) % 256)
             + 114 * ((((k * 997 + y * 211 + x * 53) % 1024) * 7) % 256))
              // 1000
    END AS inten
  FROM imgs, ys, xs
)
SELECT 'png_' || CAST(k AS VARCHAR) AS file,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(inten) AS BIGINT) AS i_sum,
  CAST(SUM(inten * (y * {_PNG_W} + x + 1)) AS BIGINT) AS i_wsum
FROM px GROUP BY k
"""


# ---------------------------------------------------------------------
# JPEG codec gate: the real baseline-JPEG decoder under the driver
# hash, through the LOSSY pipeline's exact fixed points. With all-ones
# quantization a constant 8x8 block is bit-exact end to end (its AC
# coefficients are identically zero and its DC is the integer
# 8·(v−128)), so a fixture of per-block constant tiles survives
# Huffman encode → entropy decode → dequantize → IDCT unchanged — and
# the oracle can recompute the tile pattern arithmetically while the
# Spark side decodes real JPEG bytes. Every third blob is
# gzip-wrapped; the position-weighted sum pins block placement.
# ---------------------------------------------------------------------

_JPG_N = 10
_JPG_BY, _JPG_BX = 2, 3  # blocks per image → 16 x 24 px


def _jpeg_assets(spark: SparkSession) -> DataFrame:
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import encode_jpeg

    rows = []
    for k in range(_JPG_N):
        tiles = np.array(
            [
                [(k * 131 + by * 17 + bx * 29) % 256 for bx in range(_JPG_BX)]
                for by in range(_JPG_BY)
            ]
        )
        img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
        blob = encode_jpeg(img)
        if k % 3 == 0:
            blob = gzip.compress(blob, mtime=0)
        rows.append((f"jpg_{k}", bytearray(blob)))
    return spark.createDataFrame(rows, "path string, content binary")


def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: per-file pixel-count, intensity sum and
    position-weighted intensity sum of the REAL distributed baseline
    JPEG decode over the constant-tile fixture."""
    from trx_spark.operators.multimodal import decode_image

    px = decode_image(_jpeg_assets(spark), codec="jpeg")
    w = F.col("y").cast("long") * (_JPG_BX * 8) + F.col("x").cast("long") + 1
    return px.groupBy("file").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum(F.col("intensity").cast("long")).alias("i_sum"),
        F.sum(F.col("intensity").cast("long") * w).alias("i_wsum"),
    )


_JPEG_DECODE_SQL = f"""
WITH imgs AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, {_JPG_N}) t(k)),
ys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_JPG_BY * 8}) t(v)),
xs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_JPG_BX * 8}) t(v)),
px AS (
  SELECT k, y, x,
    (k * 131 + (y // 8) * 17 + (x // 8) * 29) % 256 AS inten
  FROM imgs, ys, xs
)
SELECT 'jpg_' || CAST(k AS VARCHAR) AS file,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(inten) AS BIGINT) AS i_sum,
  CAST(SUM(inten * (y * {_JPG_BX * 8} + x + 1)) AS BIGINT) AS i_wsum
FROM px GROUP BY k
"""


# ---------------------------------------------------------------------
# Video codec gate: REAL distributed MJPEG/AVI decode with
# container-level frame sampling under the driver hash. Same lossless
# fixed-point trick as the JPEG gate (constant 8x8 tiles, all-ones
# quantization), lifted to a multi-frame container: the oracle
# recomputes the (clip, frame, tile) pattern arithmetically FOR THE
# SAMPLED FRAMES ONLY, so both the per-frame JPEG decode and the
# every_n / max_frames schedule are hashed.
# ---------------------------------------------------------------------

_VID_N = 6       # clips
_VID_F = 6       # frames per clip
_VID_EVERY = 2   # sample every 2nd frame ...
_VID_MAX = 3     # ... up to 3 frames -> original indexes {0, 2, 4}
_VID_B = 2       # 2x2 blocks of 8 -> 16x16 px frames


def _video_assets(spark: SparkSession) -> DataFrame:
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import encode_avi_mjpeg

    rows = []
    for k in range(_VID_N):
        frames = []
        for j in range(_VID_F):
            tiles = np.array(
                [
                    [
                        (k * 101 + j * 37 + by * 17 + bx * 29) % 256
                        for bx in range(_VID_B)
                    ]
                    for by in range(_VID_B)
                ]
            )
            frames.append(np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1))
        blob = encode_avi_mjpeg(frames)
        if k % 3 == 0:
            blob = gzip.compress(blob, mtime=0)
        rows.append((f"vid_{k}", bytearray(blob)))
    return spark.createDataFrame(rows, "path string, content binary")


def video_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: per (clip, original frame index) pixel-count,
    intensity sum and position-weighted sum of the REAL distributed
    MJPEG decode, through the every_n/max_frames sampling schedule."""
    from trx_spark.operators.multimodal import decode_video

    px = decode_video(
        _video_assets(spark), every_n=_VID_EVERY, max_frames=_VID_MAX
    )
    w = F.col("y").cast("long") * (_VID_B * 8) + F.col("x").cast("long") + 1
    return px.groupBy("file", "frame").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum(F.col("intensity").cast("long")).alias("i_sum"),
        F.sum(F.col("intensity").cast("long") * w).alias("i_wsum"),
    ).select(
        "file", F.col("frame").cast("long").alias("frame"),
        "n_px", "i_sum", "i_wsum",
    )


_VIDEO_DECODE_SQL = f"""
WITH clips AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, {_VID_N}) t(k)),
fr AS (
  SELECT CAST(j AS BIGINT) AS j FROM range(0, {_VID_F}) t(j)
  WHERE j % {_VID_EVERY} = 0 AND j // {_VID_EVERY} < {_VID_MAX}
),
ys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_VID_B * 8}) t(v)),
xs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_VID_B * 8}) t(v)),
px AS (
  SELECT k, j, y, x,
    (k * 101 + j * 37 + (y // 8) * 17 + (x // 8) * 29) % 256 AS inten
  FROM clips, fr, ys, xs
)
SELECT 'vid_' || CAST(k AS VARCHAR) AS file, j AS frame,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(inten) AS BIGINT) AS i_sum,
  CAST(SUM(inten * (y * {_VID_B * 8} + x + 1)) AS BIGINT) AS i_wsum
FROM px GROUP BY k, j
"""


# ---------------------------------------------------------------------
# ViT-style patch extraction over the real PNG decode path
# ---------------------------------------------------------------------

_PATCH = 4  # 4×4 patches over the 16×16 fixture → 16 patches per image


def image_patch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-transformer data prep: patchify each decoded image into
    non-overlapping ``_PATCH×_PATCH`` tiles and emit per-patch integer
    statistics (count, sum, min, max) — the tokenization step a
    multimodal training pipeline runs before projecting patches into
    the embedding space.

    Runs on the REAL distributed PNG decode (the same fixture as
    ``png_decode_stats``): the patch grouping is a pure integer-div
    projection on the decoded pixel rows, so the whole operator is one
    mapInPandas decode + one map-side-combining groupBy — no joins, no
    window. At 100 TB the group key (file, patch) partitions evenly by
    construction (every image contributes every patch id). The oracle
    never decodes PNG: it recomputes the deterministic pixel pattern
    arithmetically, so any decode defect shifts the per-patch sums."""
    from trx_spark.operators.multimodal import decode_image

    px = decode_image(_png_assets(spark), codec="png")
    patch = (
        (F.col("y").cast("long") / _PATCH).cast("long") * (_PNG_W // _PATCH)
        + (F.col("x").cast("long") / _PATCH).cast("long")
    )
    inten = F.col("intensity").cast("long")
    return px.groupBy(F.col("file"), patch.alias("patch")).agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum(inten).alias("i_sum"),
        F.min(inten).alias("i_min"),
        F.max(inten).alias("i_max"),
    )


_PATCH_SQL = f"""
WITH imgs AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, {_PNG_N}) t(k)),
ys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_PNG_H}) t(v)),
xs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_PNG_W}) t(v)),
px AS (
  SELECT k, y, x,
    CASE WHEN k < {_PNG_N // 2}
         THEN (k * 997 + y * 211 + x * 53) % 1024
         ELSE (299 * (((k * 997 + y * 211 + x * 53) % 1024) % 256)
             + 587 * ((((k * 997 + y * 211 + x * 53) % 1024) * 3) % 256)
             + 114 * ((((k * 997 + y * 211 + x * 53) % 1024) * 7) % 256))
              // 1000
    END AS inten
  FROM imgs, ys, xs
)
SELECT 'png_' || CAST(k AS VARCHAR) AS file,
  CAST((y // {_PATCH}) * {_PNG_W // _PATCH} + (x // {_PATCH}) AS BIGINT)
    AS patch,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(inten) AS BIGINT) AS i_sum,
  CAST(MIN(inten) AS BIGINT) AS i_min,
  CAST(MAX(inten) AS BIGINT) AS i_max
FROM px GROUP BY 1, 2
"""

# ---------------------------------------------------------------------
# Deterministic image augmentation over the real PNG decode path
# ---------------------------------------------------------------------


def image_augment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data augmentation: horizontal flip and 90°-clockwise
    rotation of every decoded image, verified through the
    position-weighted intensity sum (which is NOT invariant under
    either transform, so a wrong coordinate map shifts the hash).

    The transforms are pure integer coordinate projections on the
    decoded pixel rows — ``flip: x → W−1−x``; ``rot90cw: (y,x) →
    (x, H−1−y)`` — so the whole operator is the mapInPandas decode
    plus one explode-free select and a map-side-combining groupBy.
    Augmentation at 100 TB is exactly this shape: a per-row projection
    with no shuffle beyond the verification aggregate (production
    writes the transformed tensors instead of aggregating them).
    Oracle: recomputes the pattern arithmetically with the transformed
    coordinates — it never decodes PNG."""
    from trx_spark.operators.multimodal import decode_image

    px = decode_image(_png_assets(spark), codec="png")
    y, x = F.col("y").cast("long"), F.col("x").cast("long")
    inten = F.col("intensity").cast("long")
    variants = F.array(
        F.struct(
            F.lit("orig").alias("aug"),
            (y * _PNG_W + x).alias("pos"),
        ),
        F.struct(
            F.lit("hflip").alias("aug"),
            (y * _PNG_W + (_PNG_W - 1 - x)).alias("pos"),
        ),
        F.struct(
            # (y,x) → (y'=x, x'=H−1−y) on the W×H rotated canvas
            F.lit("rot90").alias("aug"),
            (x * _PNG_H + (_PNG_H - 1 - y)).alias("pos"),
        ),
    )
    return (
        px.select("file", inten.alias("inten"), F.explode(variants).alias("v"))
        .groupBy("file", F.col("v.aug").alias("aug"))
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            F.sum(F.col("inten")).alias("i_sum"),
            F.sum(F.col("inten") * (F.col("v.pos") + 1)).alias("i_wsum"),
        )
    )


_AUGMENT_SQL = f"""
WITH imgs AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, {_PNG_N}) t(k)),
ys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_PNG_H}) t(v)),
xs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_PNG_W}) t(v)),
px AS (
  SELECT k, y, x,
    CASE WHEN k < {_PNG_N // 2}
         THEN (k * 997 + y * 211 + x * 53) % 1024
         ELSE (299 * (((k * 997 + y * 211 + x * 53) % 1024) % 256)
             + 587 * ((((k * 997 + y * 211 + x * 53) % 1024) * 3) % 256)
             + 114 * ((((k * 997 + y * 211 + x * 53) % 1024) * 7) % 256))
              // 1000
    END AS inten
  FROM imgs, ys, xs
),
aug AS (
  SELECT k, inten, 'orig' AS aug, y * {_PNG_W} + x AS pos FROM px
  UNION ALL
  SELECT k, inten, 'hflip', y * {_PNG_W} + ({_PNG_W} - 1 - x) FROM px
  UNION ALL
  SELECT k, inten, 'rot90', x * {_PNG_H} + ({_PNG_H} - 1 - y) FROM px
)
SELECT 'png_' || CAST(k AS VARCHAR) AS file, aug,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(inten) AS BIGINT) AS i_sum,
  CAST(SUM(inten * (pos + 1)) AS BIGINT) AS i_wsum
FROM aug GROUP BY 1, 2
"""

# ---------------------------------------------------------------------
# Histogram equalization over the real PNG decode path
# ---------------------------------------------------------------------

_HEQ_L = 1024  # output levels (the 16-bit fixture's value domain)
_HEQ_N = _PNG_H * _PNG_W  # pixels per image


def image_hist_equalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic histogram equalization, integer-exact: per image the
    intensity CDF remaps each pixel to
    ``(cdf(v) − cdf_min) · (L−1) DIV (n − cdf_min)`` — contrast
    normalization, the standard photometric preprocessing before
    training-vision augmentation. Verified through the
    position-weighted sum of the REMAPPED image (any histogram, CDF or
    rounding defect shifts it).

    Plan: one per-(image, value) histogram groupBy (bounded by the
    value domain), a per-image cumulative window over ≤L rows, an
    equi-join of the CDF table back onto the pixel stream, one census
    groupBy. Per-image partitions — embarrassingly parallel at 100 TB."""
    from pyspark.sql import Window

    from trx_spark.operators.multimodal import decode_image

    px = decode_image(_png_assets(spark), codec="png").select(
        "file",
        F.col("intensity").cast("long").alias("v"),
        (F.col("y").cast("long") * _PNG_W + F.col("x").cast("long") + 1).alias(
            "pos"
        ),
    )
    hist = px.groupBy("file", "v").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.partitionBy("file").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("file").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = hist.withColumn("cdf", F.sum("cnt").over(w_cum)).withColumn(
        "cdf_min", F.min(F.col("cdf")).over(w_all)
    )
    remap = F.when(
        F.lit(_HEQ_N) > F.col("cdf_min"),
        F.expr(f"((cdf - cdf_min) * {_HEQ_L - 1}) DIV ({_HEQ_N} - cdf_min)"),
    ).otherwise(F.lit(0))
    return (
        px.join(cdf, ["file", "v"])
        .select("file", "pos", remap.alias("out"))
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            F.sum("out").alias("eq_sum"),
            F.sum(F.col("out") * F.col("pos")).alias("eq_wsum"),
            F.max("out").alias("eq_max"),
        )
    )


_HEQ_SQL = f"""
WITH imgs AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, {_PNG_N}) t(k)),
ys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_PNG_H}) t(v)),
xs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_PNG_W}) t(v)),
px AS (
  SELECT k, y * {_PNG_W} + x + 1 AS pos,
    CASE WHEN k < {_PNG_N // 2}
         THEN (k * 997 + y * 211 + x * 53) % 1024
         ELSE (299 * (((k * 997 + y * 211 + x * 53) % 1024) % 256)
             + 587 * ((((k * 997 + y * 211 + x * 53) % 1024) * 3) % 256)
             + 114 * ((((k * 997 + y * 211 + x * 53) % 1024) * 7) % 256))
              // 1000
    END AS v
  FROM imgs, ys, xs
),
hist AS (
  SELECT k, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM px GROUP BY k, v
),
cdf AS (
  SELECT k, v,
    CAST(SUM(cnt) OVER (PARTITION BY k ORDER BY v
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cdf
  FROM hist
),
cdf2 AS (
  SELECT k, v, cdf,
    CAST(MIN(cdf) OVER (PARTITION BY k) AS BIGINT) AS cdf_min
  FROM cdf
),
remapped AS (
  SELECT p.k, p.pos,
    CASE WHEN {_HEQ_N} > c.cdf_min
         THEN ((c.cdf - c.cdf_min) * {_HEQ_L - 1}) // ({_HEQ_N} - c.cdf_min)
         ELSE 0 END AS out
  FROM px p JOIN cdf2 c ON c.k = p.k AND c.v = p.v
)
SELECT 'png_' || CAST(k AS VARCHAR) AS file,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(out) AS BIGINT) AS eq_sum,
  CAST(SUM(out * pos) AS BIGINT) AS eq_wsum,
  CAST(MAX(out) AS BIGINT) AS eq_max
FROM remapped GROUP BY k
"""

# ---------------------------------------------------------------------
# Wild-web image census gate: a crawl-shaped MIXED fixture — baseline
# JPEG, progressive JPEG (spectral-selection AND successive-
# approximation), sequential PNG, Adam7-interlaced PNG, plus a
# truncated JPEG, a CRC-corrupted PNG, a truncated PNG and plain
# garbage bytes — through the REAL decoders with the quarantine
# contract: every file yields a verdict row, no exceptions. The
# decodable files use the codec gates' exact fixed points (constant
# JPEG tiles at all-ones quant; lossless PNG), so the oracle recomputes
# their luma sums arithmetically and pins the corrupt files' verdict
# rows as literals.
# ---------------------------------------------------------------------

_WEB_JPG_N = 8   # files 0-3 baseline, 4-5 progressive, 6-7 successive
_WEB_G16_N = 2   # files 8-9: sequential 16-bit grayscale PNG
_WEB_RGB_N = 2   # files 10-11: Adam7-interlaced RGB PNG
_WEB_H, _WEB_W = 16, 16          # PNG fixture dims
_WEB_JBY, _WEB_JBX = 2, 3        # JPEG 8x8 blocks → 16 x 24 px


def _web_assets(spark: SparkSession) -> DataFrame:
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_progressive,
        encode_png,
    )

    def jpeg_img(k):
        tiles = np.array(
            [
                [(k * 131 + by * 17 + bx * 29) % 256 for bx in range(_WEB_JBX)]
                for by in range(_WEB_JBY)
            ]
        )
        return np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)

    yy, xx = np.mgrid[0:_WEB_H, 0:_WEB_W]

    def png_base(k):
        return (k * 997 + yy * 211 + xx * 53) % 1024

    rows = []
    for k in range(_WEB_JPG_N + _WEB_G16_N + _WEB_RGB_N + 4):
        if k < 4:
            blob = encode_jpeg(jpeg_img(k))
        elif k < 6:
            blob = encode_jpeg_progressive(jpeg_img(k))
        elif k < 8:
            blob = encode_jpeg_progressive(jpeg_img(k), successive=True)
        elif k < 10:
            blob = encode_png(png_base(k), filters="cycle")  # 16-bit gray
        elif k < 12:
            base = png_base(k)
            rgb = np.stack(
                [base % 256, (base * 3) % 256, (base * 7) % 256], axis=-1
            )
            blob = encode_png(rgb, filters="cycle", interlace=True)
        elif k == 12:  # truncated progressive JPEG
            blob = encode_jpeg_progressive(jpeg_img(k), successive=True)
            blob = blob[: len(blob) * 3 // 5]
        elif k == 13:  # CRC-corrupted PNG (one flipped IDAT byte)
            b = bytearray(encode_png(png_base(k) % 256))
            b[b.index(b"IDAT") + 6] ^= 0xFF
            blob = bytes(b)
        elif k == 14:  # truncated PNG (cut inside the IDAT chunk)
            blob = encode_png(png_base(k) % 256)
            blob = blob[: len(blob) // 2]
        else:  # k == 15: crawl junk, no known magic
            blob = b"this is not an image, just crawl junk bytes\x00\x01"
        if k % 5 == 0:
            blob = gzip.compress(blob, mtime=0)
        rows.append((f"web_{k}", bytearray(blob)))
    return spark.createDataFrame(rows, "path string, content binary")


def web_image_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: per-file verdict census of the mixed crawl fixture
    through the REAL decoders (operators/multimodal.py image_census) —
    decodable files carry exact luma sums, broken files carry
    verdict='corrupt' rows instead of exceptions."""
    from trx_spark.operators.multimodal import image_census

    return image_census(_web_assets(spark))


_WEB_CENSUS_SQL = f"""
WITH jb AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, {_WEB_JPG_N}) t(k)),
jys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_WEB_JBY * 8}) t(v)),
jxs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_WEB_JBX * 8}) t(v)),
jpx AS (
  SELECT k, y, x,
    (k * 131 + (y // 8) * 17 + (x // 8) * 29) % 256 AS l
  FROM jb, jys, jxs
),
gb AS (
  SELECT CAST(k AS BIGINT) AS k FROM range({_WEB_JPG_N},
    {_WEB_JPG_N + _WEB_G16_N + _WEB_RGB_N}) t(k)
),
pys AS (SELECT CAST(v AS BIGINT) AS y FROM range(0, {_WEB_H}) t(v)),
pxs AS (SELECT CAST(v AS BIGINT) AS x FROM range(0, {_WEB_W}) t(v)),
ppx AS (
  SELECT k, y, x,
    CASE WHEN k < {_WEB_JPG_N + _WEB_G16_N}
         THEN (k * 997 + y * 211 + x * 53) % 1024
         ELSE (299 * (((k * 997 + y * 211 + x * 53) % 1024) % 256)
             + 587 * ((((k * 997 + y * 211 + x * 53) % 1024) * 3) % 256)
             + 114 * ((((k * 997 + y * 211 + x * 53) % 1024) * 7) % 256))
              // 1000
    END AS l
  FROM gb, pys, pxs
)
SELECT 'web_' || CAST(k AS VARCHAR) AS file, 'jpeg' AS fmt, 'ok' AS verdict,
  CAST({_WEB_JBX * 8} AS BIGINT) AS width,
  CAST({_WEB_JBY * 8} AS BIGINT) AS height,
  CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(l) AS BIGINT) AS i_sum,
  CAST(SUM(l * (y * {_WEB_JBX * 8} + x + 1)) AS BIGINT) AS i_wsum
FROM jpx GROUP BY k
UNION ALL
SELECT 'web_' || CAST(k AS VARCHAR), 'png', 'ok',
  CAST({_WEB_W} AS BIGINT), CAST({_WEB_H} AS BIGINT),
  CAST(COUNT(*) AS BIGINT), CAST(SUM(l) AS BIGINT),
  CAST(SUM(l * (y * {_WEB_W} + x + 1)) AS BIGINT)
FROM ppx GROUP BY k
UNION ALL
SELECT * FROM (VALUES
  ('web_12', 'jpeg', 'corrupt', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
  ('web_13', 'png', 'corrupt', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
  ('web_14', 'png', 'corrupt', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
  ('web_15', 'unknown', 'corrupt', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT))
) c(file, fmt, verdict, width, height, n_px, i_sum, i_wsum)
"""

QUERIES = {
    "image_dedup_groups": image_dedup_groups,
    "audio_dedup_groups": audio_dedup_groups,
    "png_decode_stats": png_decode_stats,
    "jpeg_decode_stats": jpeg_decode_stats,
    "video_decode_stats": video_decode_stats,
    "image_patch_stats": image_patch_stats,
    "image_augment_stats": image_augment_stats,
    "image_hist_equalization": image_hist_equalization,
    "web_image_census": web_image_census,
}

ORACLES = {
    "web_image_census": _WEB_CENSUS_SQL,
    "image_dedup_groups": _IMAGE_DEDUP_SQL,
    "audio_dedup_groups": _AUDIO_DEDUP_SQL,
    "png_decode_stats": _PNG_DECODE_SQL,
    "jpeg_decode_stats": _JPEG_DECODE_SQL,
    "video_decode_stats": _VIDEO_DECODE_SQL,
    "image_patch_stats": _PATCH_SQL,
    "image_augment_stats": _AUGMENT_SQL,
    "image_hist_equalization": _HEQ_SQL,
}
