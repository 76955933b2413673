"""End-to-end pipelines mirroring the reference's entry points
(SURVEY §3): a user of the reference runs ``azav.doFolder`` →
``id9.doFolder_dataRed``; here the same journey is two composable lazy
DataFrame builders plus sinks.

E1 (images → curve bank): ``integrate_folder``
    pixels (decoded or parquet) ⨝ geometry → mask filter → dezinger →
    groupBy(file, q_bin) weighted mean → 2θ axes → monitor norm.
E2 (curves → time-resolved diffs): ``data_reduction``
    curves ⨝ log (J1) → reference pick (P9) → as-of interpolation (J2)
    → diff/ratio → per-delay aggregation + chi2 (A4-A7) → chi2 filter
    (F1) → re-aggregated filtered view (F6).

Everything stays one lazy DAG until a sink is invoked — Catalyst sees
the whole plan (pushdown through the join, broadcast of log/geometry).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trx_spark.operators import azav, filters, reduction


@dataclass
class IntegrationConfig:
    """Mirror of azav.doFolder's knobs (trx/azav.py:230-290)."""

    q_min: float = 0.0
    q_max: float = 10.0
    n_bins: int = 120
    dark: float = 0.0
    dezinger_percentile: float | None = None
    dezinger_factor: float = 1.5
    monitor_q_window: tuple[float, float] | None = None
    mask: object | None = None  # Column predicate, True = excluded

    def as_dict(self) -> dict:
        return {
            "q_min": self.q_min,
            "q_max": self.q_max,
            "n_bins": self.n_bins,
            "dark": self.dark,
            "dezinger_percentile": self.dezinger_percentile,
            "dezinger_factor": self.dezinger_factor,
            "monitor_q_window": self.monitor_q_window,
            "mask": str(self.mask),
        }


def integrate_folder(
    pixels: DataFrame,
    geometry: DataFrame,
    cfg: IntegrationConfig,
    *,
    image: list[str] | None = None,
) -> DataFrame:
    """E1: pixel table ⨝ broadcast geometry → (mask, dezinger) filters →
    1-D integration → per-image curves (trx/azav.py:230-460 doFolder,
    minus the caching which sinks.save_with_config provides)."""
    image = image or ["file"]
    px = pixels.join(F.broadcast(geometry), on=["y", "x"], how="inner")
    if cfg.mask is not None:
        px = px.filter(~cfg.mask)
    if cfg.dezinger_percentile is not None:
        px = px.withColumn(
            "q_bin", azav.q_bin("q", q_min=cfg.q_min, q_max=cfg.q_max, n_bins=cfg.n_bins)
        )
        px = azav.dezinger(
            px,
            image=image,
            bin_col="q_bin",
            intensity="intensity",
            percentile=cfg.dezinger_percentile,
            factor=cfg.dezinger_factor,
        ).filter(~F.col("is_zinger")).drop("is_zinger", "q_bin")
    curves = azav.integrate_1d(
        px,
        image=image,
        q="q",
        intensity="intensity",
        weight="solid_angle",
        dark=cfg.dark,
        q_min=cfg.q_min,
        q_max=cfg.q_max,
        n_bins=cfg.n_bins,
    )
    if cfg.monitor_q_window is not None:
        curves = azav.monitor_normalize(
            curves, image=image, q="q", intensity="i", err="err",
            q_window=cfg.monitor_q_window,
        )
    return curves


@dataclass
class ReductionConfig:
    """Mirror of calcTimeResolvedSignal/averageScanPoints knobs
    (trx/dataReduction.py:88-243)."""

    reference: str | float = "min"  # 'min' | 'max' | a delay value
    use_ratio: bool = False
    chi2_threshold: float | str | None = "auto"
    q_norm_window: tuple[float, float] | None = None
    lpower: str | None = None
    extra_group: list[str] = field(default_factory=list)  # e.g. ['angle'] split


def data_reduction(
    curves: DataFrame,
    log: DataFrame,
    cfg: ReductionConfig,
    *,
    file: str = "file",
    delay: str = "delay",
) -> dict[str, DataFrame]:
    """E2: curves ⨝ log → is_ref → as-of interpolation → diff → per-delay
    stats + chi2 → non-destructive chi2 filter → filtered re-aggregation.

    Returns {'shots', 'scan', 'scan_filtered'} lazy DataFrames
    (trx/id9.py:226-303 doFolder_dataRed + filters.applyFilters). For
    curve data the scan views are keyed by (group, q_bin, q, delay) when
    the curves carry ``q``, so a sink reads the physical q axis off the
    scan itself; both views carry ``ref_avg`` and ``diff_plus_ref``.
    ``log`` is one row per image — small per run but proportional to
    the data volume across runs, so the join carries no broadcast hint
    (AQE broadcasts a single run's log, shuffles a 100 TB batch).

    Scale note: with no ``extra_group`` the acquisition-order window is
    global — the reference's "one folder = one run" call shape, fine at
    per-run size; the reference pick rides that same window's full frame,
    so the joined frame is read once. For a multi-run batch ALWAYS pass
    the run key in ``cfg.extra_group``; every window then partitions by
    it (the gate queries exercise exactly that shape with a 16-shard run
    key). Every per-group quantity downstream (reference ladder edges,
    per-grain ref totals) is a window over the (group, q) partitions the
    interpolation already shuffled to, the reference average of the
    add-back included — no summary is aggregated apart and joined back,
    which would re-run the whole upstream plan.
    """
    # Multi-run batches: per-run file names COLLIDE (img_0001 exists in
    # every run), so any extra_group key present on BOTH sides joins the
    # frames alongside the file name — joining on file alone would match
    # a curve to every same-named log row across runs (row fan-out) or
    # leave two ambiguous run columns. A group key carried only by the
    # log simply rides the join (callers must then guarantee globally
    # unique file names, the single-run shape).
    group = list(cfg.extra_group)
    join_key = [file] + [
        g for g in group if g in curves.columns and g in log.columns
    ]
    joined = curves.join(log, on=join_key, how="inner")
    # per-image acquisition index from the file ordering (O1: the sorted
    # file list defines acquisition order, trx/utils/files.py:16)
    w = Window.partitionBy(*group).orderBy(file) if group else Window.orderBy(file)
    if cfg.reference in ("min", "max"):
        # 'min' picks scan.min() (dataReduction.py:223-224); with the id9
        # convention laser-off rows carry -10.0 (id9.py:64), the minimum.
        # The extremum is the same window's full frame: it rides the _idx
        # partitions instead of a second pass over the joined frame.
        agg_fn = F.min if cfg.reference == "min" else F.max
        ref_delay = agg_fn(F.col(delay)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        is_ref = F.col(delay) == ref_delay
    else:
        # float: isclose(scan, reference, atol=1e-12) → round-12 equality
        # (dataReduction.py:227-228 + the id9 rounding at id9.py:55)
        is_ref = F.round(F.col(delay), 12) == F.round(F.lit(float(cfg.reference)), 12)
    shots = joined.withColumns({"_idx": F.dense_rank().over(w), "is_ref": is_ref})

    if cfg.q_norm_window is not None:
        # the monitor window partitions by [group, file] — file alone
        # would pool colliding per-run file names into one median — and
        # the err column rescales with the data (dataReduction.py:240)
        shots = azav.monitor_normalize(
            shots,
            image=[*group, file],
            q="q",
            intensity="i",
            err="err" if "err" in shots.columns else None,
            q_window=cfg.q_norm_window,
            use_median=True,
        )

    q_group = [*group, "q_bin"] if "q_bin" in shots.columns else group
    shots = reduction.time_resolved_diff(
        shots,
        group=q_group,
        idx="_idx",
        is_ref="is_ref",
        value="i",
        use_ratio=cfg.use_ratio,
        lpower=cfg.lpower,
    )
    # A9: the reference average rides the interpolation's partitions as a
    # full-frame column; the scan points carry it to the add-back. Taken
    # BEFORE the chi2 filter: the reference's applyFilters (filters.py:47)
    # reuses the unfiltered data.ref_average.
    shots = reduction.ref_average(shots, group=q_group, is_ref="is_ref", value="i")
    n_q = 1
    thr = None if cfg.chi2_threshold in ("auto", None) else float(cfg.chi2_threshold)
    is_curve = "q_bin" in shots.columns
    if is_curve:
        # Curve data: ONE chi2_0 per shot, summed over the q axis
        # (trx/dataReduction.py:187-193 — the sum at :190 runs over q), and
        # chi2Filter excludes WHOLE shots (trx/filters.py:103-120), never
        # individual (shot, q) points.
        shot_scores = reduction.chi2_0_per_shot_curves(
            shots, shot=file, scan=delay, q="q_bin", group=group,
            idx="_idx", is_ref="is_ref", diff="diff",
        )
        if cfg.chi2_threshold is not None:
            shot_scores = filters.chi2_filter(
                shot_scores, chi2="chi2_0", threshold=thr, group=group
            )
        else:
            shot_scores = shot_scores.withColumns(
                {"chi2_threshold": F.lit(None).cast("double"), "chi2_excluded": F.lit(False)}
            )
        # one row per shot, joined back onto the exploded (shot, q) rows
        # (keyed by the full [group, shot, scan] grain — shot ids are only
        # unique within a run); shots subsampled away by the every-second-ref
        # rule are never scored (NaN in the reference) and survive the filter.
        # No broadcast hint: shot_scores scales with the shot count, AQE
        # broadcasts per-run sizes and shuffles a multi-run batch.
        per_shot = shots.join(
            shot_scores, on=[*group, file, delay], how="left"
        ).withColumn("chi2_excluded", F.coalesce(F.col("chi2_excluded"), F.lit(False)))
        surviving = per_shot.filter(~F.col("chi2_excluded")).drop(
            "chi2_0", "n_q", "chi2_threshold", "chi2_excluded"
        )
    else:
        per_shot = reduction.chi2_0_per_shot(
            shots, scan=delay, group=q_group, idx="_idx", is_ref="is_ref", diff="diff", n_q=n_q
        )
        if cfg.chi2_threshold is not None:
            per_shot = filters.chi2_filter(
                per_shot, chi2="chi2_0", threshold=thr, group=group
            )
        else:
            per_shot = per_shot.withColumn("chi2_excluded", F.lit(False))
        surviving = per_shot.filter(
            ~F.coalesce(F.col("chi2_excluded"), F.lit(False))
        ).drop("chi2_0", "noise", "mean_diff", "used_in_avg", "chi2_threshold", "chi2_excluded")

    # q rides the scan points: in a curve bank q is the bin centre, a
    # function of q_bin, so the groups do not change and a sink needs no
    # second pass over the bank for the (q_bin, q) map
    scan_group = [*q_group, "q"] if is_curve and "q" in shots.columns else q_group
    avg = dict(
        scan=delay, group=scan_group, idx="_idx", is_ref="is_ref", diff="diff",
        n_q=n_q, carry=["ref_avg"],
    )
    # F6 applyFilters: re-run the aggregation over surviving shots only —
    # in relational form just a WHERE over the provenance column
    scan = reduction.diffs_plus_ref(reduction.average_scan_points(shots, **avg))
    scan_filtered = reduction.diffs_plus_ref(
        reduction.average_scan_points(surviving, **avg)
    )
    return {"shots": per_shot.drop("ref_avg"), "scan": scan, "scan_filtered": scan_filtered}
