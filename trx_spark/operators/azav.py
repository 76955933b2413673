"""Azimuthal integration as declarative binned weighted aggregation.

The reference's core operator (trx/azav.py:131-171 ``do1d``/``do2d``)
delegates per-image radial binning to pyFAI's CSR kernels. In Spark the
same computation is a groupBy over (image, radial-bin[, azimuth-bin]) of a
pixel table that carries precomputed geometry columns (q, chi, solid
angle, polarization — trx/azav.py:50-104 ``ai``/``getAI``). The CSR
precompute trick maps to materializing the geometry once as a dimension
table and broadcast-joining it (SURVEY §4) — Catalyst reuses the
broadcast across every image batch.

Scale notes (100 TB): partition the pixel table by (run, file-bucket) so
each image's pixels are co-located → the groupBy(file, q_bin) aggregation
is map-side partial + tiny shuffle; geometry is a broadcast; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trx_spark.exact import dsum, wdsum


def q_bin(q: Column | str, *, q_min: float, q_max: float, n_bins: int) -> Column:
    """Uniform radial bin index in [0, n_bins-1], clamping out-of-range
    pixels to the edge bins (pyFAI assigns every unmasked pixel a bin).

    Implemented as closed-form floor math (not width_bucket) so the DuckDB
    oracle can reproduce it bit-for-bit.
    """
    qc = F.col(q) if isinstance(q, str) else q
    step = (q_max - q_min) / n_bins
    raw = F.floor((qc - F.lit(q_min)) / F.lit(step))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")


def bin_center(bin_col: Column | str, *, q_min: float, q_max: float, n_bins: int) -> Column:
    b = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    step = (q_max - q_min) / n_bins
    return F.lit(q_min) + (b + F.lit(0.5)) * F.lit(step)


def integrate_1d(
    pixels: DataFrame,
    *,
    image: list[str] | None = None,
    q: str = "q",
    intensity: str = "intensity",
    weight: "str | Column | None" = None,
    masked: str | None = None,
    dark: float = 0.0,
    q_min: float,
    q_max: float,
    n_bins: int,
    exact: bool = False,
) -> DataFrame:
    """1-D azimuthal integration (trx/azav.py:131-154 ``do1d``).

    Per (image, q_bin) over unmasked pixels:
      i   = Σ(w·(I−dark)) / Σ(w)          (weighted mean; w = solid angle×pol)
      err = sqrt(Σ(I−dark)) / count       (Poisson error model, azav.py:150)
      n_pix, q_center
    """
    image = image or ["file"]
    df = pixels
    if masked is not None:
        df = df.filter(~F.col(masked))
    sig = F.col(intensity) - F.lit(dark)
    w = F.lit(1.0) if weight is None else (F.col(weight) if isinstance(weight, str) else weight)
    s = dsum if exact else F.sum
    df = df.withColumn("_qbin", q_bin(q, q_min=q_min, q_max=q_max, n_bins=n_bins))
    out = df.groupBy(*image, "_qbin").agg(
        (s(sig * w) / s(w)).alias("i"),
        (F.sqrt(s(sig)) / F.count(F.lit(1))).alias("err"),
        F.count(F.lit(1)).alias("n_pix"),
    )
    return out.withColumn(
        "q", bin_center("_qbin", q_min=q_min, q_max=q_max, n_bins=n_bins)
    ).withColumnRenamed("_qbin", "q_bin")


def integrate_2d(
    pixels: DataFrame,
    *,
    image: list[str] | None = None,
    q: str = "q",
    chi: str = "chi",
    intensity: str = "intensity",
    weight: "str | Column | None" = None,
    masked: str | None = None,
    dark: float = 0.0,
    q_min: float,
    q_max: float,
    n_q: int,
    chi_min: float,
    chi_max: float,
    n_chi: int,
    exact: bool = False,
) -> DataFrame:
    """2-D (q, azimuth) integration — cake plot (trx/azav.py:156-171
    ``do2d``). Same aggregation with a second bucket key."""
    image = image or ["file"]
    df = pixels
    if masked is not None:
        df = df.filter(~F.col(masked))
    sig = F.col(intensity) - F.lit(dark)
    w = F.lit(1.0) if weight is None else (F.col(weight) if isinstance(weight, str) else weight)
    s = dsum if exact else F.sum
    df = df.withColumn("_qbin", q_bin(q, q_min=q_min, q_max=q_max, n_bins=n_q)).withColumn(
        "_chibin", q_bin(chi, q_min=chi_min, q_max=chi_max, n_bins=n_chi)
    )
    out = df.groupBy(*image, "_qbin", "_chibin").agg(
        (s(sig * w) / s(w)).alias("i"),
        F.count(F.lit(1)).alias("n_pix"),
    )
    return (
        out.withColumn("q", bin_center("_qbin", q_min=q_min, q_max=q_max, n_bins=n_q))
        .withColumn("chi", bin_center("_chibin", q_min=chi_min, q_max=chi_max, n_bins=n_chi))
        .withColumnRenamed("_qbin", "q_bin")
        .withColumnRenamed("_chibin", "chi_bin")
    )


def dezinger(
    pixels: DataFrame,
    *,
    image: list[str] | None = None,
    bin_col: str = "q_bin",
    intensity: str = "intensity",
    percentile: float = 0.5,
    factor: float = 1.5,
    flag_out: str = "is_zinger",
    baseline_out: str | None = None,
) -> DataFrame:
    """Cosmic-ray removal (trx/azav.py:119-129 ``dodezinger``, pyFAI
    ``separate``): within each (image, radial-bin) neighborhood, flag
    pixels whose intensity exceeds ``factor`` × the bin's percentile
    baseline. Non-destructive boolean flag; exact percentile for oracle
    parity (percentile_approx at real scale is a config switch).

    ``percentile`` is a [0, 1] FRACTION (Spark's percentile contract;
    the reference/pyFAI knob is 0-100 — the compat façade rescales).
    ``baseline_out`` names an output column for the per-bin baseline;
    by default the helper column does not leak into the schema.
    """
    image = image or ["file"]
    w = Window.partitionBy(*image, bin_col)
    baseline = F.expr(f"percentile({intensity}, {percentile})").over(w)
    if baseline_out:
        return pixels.withColumn(baseline_out, baseline).withColumn(
            flag_out, F.col(intensity) > F.lit(factor) * F.col(baseline_out)
        )
    # the two identical window expressions plan as ONE WindowExec
    return pixels.withColumn(
        flag_out, F.col(intensity) > F.lit(factor) * baseline
    )


def monitor_normalize(
    curves: DataFrame,
    *,
    image: list[str] | None = None,
    q: str = "q",
    intensity: str = "i",
    err: str | None = "err",
    q_window: tuple[float, float] | None = None,
    use_median: bool = False,
    exact: bool = False,
) -> DataFrame:
    """'auto' monitor normalization (trx/azav.py:431-452, A10): divide each
    curve by its own mean intensity — over all q or a q-window
    (dataReduction.py:236-237 uses the *median* over the window). Adds
    ``monitor`` and replaces i (and err) by i/monitor via an analytic
    window — no self-join, single pass."""
    image = image or ["file"]
    w = Window.partitionBy(*image)
    sel = F.col(intensity)
    if q_window is not None:
        lo, hi = q_window
        sel = F.when((F.col(q) >= lo) & (F.col(q) <= hi), F.col(intensity))
    # one branch per (use_median × q_window) case — the windowed median
    # needs a materialized _sel column because percentile() takes a
    # column reference, not an arbitrary expression, over a window
    if use_median and q_window is not None:
        tmp = curves.withColumn("_sel", sel)
        mon = F.expr("percentile(_sel, 0.5)").over(w)
        out = tmp.withColumn("monitor", mon).drop("_sel")
    else:
        if use_median:
            mon = F.expr(f"percentile({intensity}, 0.5)").over(w)
        elif exact:
            mon = wdsum(sel, w) / F.count(sel).over(w)
        else:
            mon = F.avg(sel).over(w)
        out = curves.withColumn("monitor", mon)
    out = out.withColumn(intensity, F.col(intensity) / F.col("monitor"))
    if err:
        out = out.withColumn(err, F.col(err) / F.col("monitor"))
    return out
