"""Time-resolved data reduction: reference interpolation (as-of join) and
scan-point averaging with chi-square statistics.

Semantics mirror the reference implementation exactly
(``trx/dataReduction.py:15-205`` in /root/reference), including its quirks:

- ``interp_references`` (dataReduction.py:15-85): each shot's reference is
  the linear interpolation (by *acquisition index*, not time) between the
  previous and next reference shots. Shots before the first reference clamp
  to the first reference; shots at/after the last reference clamp to the
  last. Reference shots themselves use their *neighbouring* references —
  first ref uses the second, last ref uses the second-last, and (a quirk of
  the reference's loop bounds, dataReduction.py:70-71: the third zip arm is
  ``idx_ref[2:-1]``) the **second-to-last reference keeps its own value**.
  With a single reference, every shot uses it as-is.
- ``averageScanPoints`` (dataReduction.py:88-205): per scan point, noise is
  the population std-dev (numpy ``nanstd`` ddof=0) of the diffs computed
  **before** the every-second-reference subsampling (dataReduction.py:175
  runs before :179); the mean is over the subsampled rows; chi2_0 per repeat
  is ``((diff - mean)/noise)^2 / nQ`` over the subsampled rows; the error of
  the mean divides by sqrt of the **full** per-scan-point row count
  (dataReduction.py:196).

Spark-first design: everything is window functions over the group-key
partitions — no UDFs, fully codegen-able, and the only shuffle of the shot
table is the window partitioning on the group key (at 100 TB: partition by
run; each run's shots are one window partition). Per-group quantities (the
reference ladder's edges, the per-grain reference totals) are full-frame
columns of those same partitions, never a summary aggregated apart and
joined back: such a join re-runs the shot table's whole upstream plan
(scan, log join, acquisition index) once per summary. That includes
the reference average of the add-back (:func:`ref_average`), which the
scan points carry through their aggregation. The one summary still
joined back is the group-less scalar layout's total reference count in
:func:`_mark_subsample` (no key to window over); curve layouts always
group by q.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trx_spark.exact import davg, dstddev_pop, dsum, wdsum


def interp_references(
    df: DataFrame,
    *,
    group: list[str] | None = None,
    idx: str = "idx",
    is_ref: str = "is_ref",
    value: str = "i",
    out: str = "iref",
) -> DataFrame:
    """Attach the interpolated reference value for every row.

    ``df`` must have one row per (group, idx) with a boolean ``is_ref``
    column; ``idx`` orders acquisition within each group. Adds ``out``.

    cf. trx/dataReduction.py:15-85 (numpy loop → window frames over one
    forward and one reversed acquisition order per group).
    """
    group = group or []
    w = Window.partitionBy(*group).orderBy(idx) if group else Window.orderBy(idx)
    # "next ref" via the REVERSED ordering with the same cumulative
    # self-excluding frame: Spark evaluates last(...ignorenulls) over
    # (unboundedPreceding, -1) incrementally in O(n), whereas a
    # (1, unboundedFollowing) frame is recomputed per row — O(n²) per
    # partition (measured: 364 s vs 2 s on a 100k-row partition).
    w_rev = (
        Window.partitionBy(*group).orderBy(F.col(idx).desc())
        if group
        else Window.orderBy(F.col(idx).desc())
    )
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_next = w_rev.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_rev_all = w_rev.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    ref_idx = F.when(F.col(is_ref), F.col(idx))
    ref_val = F.when(F.col(is_ref), F.col(value))
    ref_int = F.when(F.col(is_ref), F.lit(1)).otherwise(F.lit(0))
    # the ladder's edges: nth_value skips NULLs, so each ref's value rides
    # in a never-NULL struct — a ref whose value is NULL still holds its
    # rung (as row_number over the refs would count it)
    ref_cell = F.when(F.col(is_ref), F.struct(F.col(value).alias("v")))

    def nth_ref(n: int, spec) -> Column:
        return F.nth_value(ref_cell, n, ignoreNulls=True).over(spec)["v"]

    # Self-excluding frames give, for ref rows, the *neighbouring* refs —
    # and for non-ref rows the same prev/next refs a (-inf, 0] frame would.
    # Every column rides the two specs (forward and reversed) over the
    # same group partitions: one Window operator per spec, one shuffle,
    # no sub-plan joined back.
    nb = {
        "_prev_ref_idx": F.last(ref_idx, ignorenulls=True).over(w_prev),
        "_prev_ref_val": F.last(ref_val, ignorenulls=True).over(w_prev),
        "_next_ref_idx": F.last(ref_idx, ignorenulls=True).over(w_next),
        "_next_ref_val": F.last(ref_val, ignorenulls=True).over(w_next),
        # refs up to and including self → a ref row's own rank
        "_ref_rank": F.sum(ref_int).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        "_n_refs": F.sum(ref_int).over(w_all),
        "_first_ref_val": nth_ref(1, w_all),
        "_second_ref_val": nth_ref(2, w_all),
        "_last_ref_val": nth_ref(1, w_rev_all),
        "_secondlast_ref_val": nth_ref(2, w_rev_all),
    }

    # slope-first form matches the reference's fp evaluation order
    # (dataReduction.py:58-59: slope = Δref/Δidx; ref_before + slope·Δ).
    slope = (F.col("_next_ref_val") - F.col("_prev_ref_val")) / (
        F.col("_next_ref_idx") - F.col("_prev_ref_idx")
    )
    interp = F.col("_prev_ref_val") + slope * (F.col(idx) - F.col("_prev_ref_idx"))

    iref = (
        F.when(F.col("_n_refs") == 1, F.col("_first_ref_val"))
        .when(
            F.col(is_ref),
            F.when(F.col("_ref_rank") == 1, F.col("_second_ref_val"))
            .when(F.col("_ref_rank") == F.col("_n_refs"), F.col("_secondlast_ref_val"))
            .when(F.col("_ref_rank") == F.col("_n_refs") - 1, F.col(value))
            .otherwise(interp),
        )
        .when(F.col("_prev_ref_idx").isNull(), F.col("_first_ref_val"))
        .when(F.col("_next_ref_idx").isNull(), F.col("_last_ref_val"))
        .otherwise(interp)
    )
    return df.withColumns(nb).withColumn(out, iref).drop(*nb)


def time_resolved_diff(
    df: DataFrame,
    *,
    group: list[str] | None = None,
    idx: str = "idx",
    is_ref: str = "is_ref",
    value: str = "i",
    use_ratio: bool = False,
    lpower: str | None = None,
    out: str = "diff",
) -> DataFrame:
    """diff = value − interp_ref (or ratio; optional laser-power norm).

    cf. trx/dataReduction.py:144-157 (useRatio / lpower branches).
    """
    res = interp_references(df, group=group, idx=idx, is_ref=is_ref, value=value, out="iref")
    diff: Column = (F.col(value) / F.col("iref")) if use_ratio else (F.col(value) - F.col("iref"))
    if lpower is not None:
        diff = ((diff - 1) / F.col(lpower) + 1) if use_ratio else (diff / F.col(lpower))
    return res.withColumn(out, diff)


def _mark_subsample(
    df: DataFrame,
    *,
    keys: list[str],
    ref_keys: list[str],
    idx: str,
    is_ref: str,
) -> DataFrame:
    """The every-second-reference use flag ``_use`` (W2).

    The reference subsamples a scan point only when its shot set IS the
    entire reference set — ``np.all(shot_idx == isRef)``
    (trx/dataReduction.py:177): every row of the scan point is a ref AND
    the scan point holds every ref of the ref-set grain (``ref_keys`` —
    the run key, plus the q axis for curve layouts). "All rows are refs"
    alone is not enough: if references ever spanned two scan values,
    neither scan point would equal the full reference set and the
    reference subsamples neither. The second condition needs the
    per-grain total ref count: a window over ``ref_keys``, whose
    partitions contain the scan point's (``ref_keys`` ⊆ ``keys``), so it
    rides the same shuffle. A window groups NULL keys together exactly
    as ``groupBy`` does. With no ``ref_keys`` the total is a scalar
    aggregate broadcast back, never a key-less window."""
    w_scan = Window.partitionBy(*keys).orderBy(idx)
    w_full = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ref_int = F.col(is_ref).cast("int")
    if ref_keys:
        marked, grp_refs = df, F.sum(ref_int).over(Window.partitionBy(*ref_keys))
    else:
        marked = df.crossJoin(F.broadcast(df.agg(F.sum(ref_int).alias("_grp_refs"))))
        grp_refs = F.col("_grp_refs")
    all_ref = F.min(ref_int).over(w_full).cast("boolean") & (
        F.sum(ref_int).over(w_full) == grp_refs
    )
    use = (~all_ref) | (F.row_number().over(w_scan) % 2 == 1)
    return marked.withColumn("_use", use).drop("_grp_refs")


def average_scan_points(
    df: DataFrame,
    *,
    scan: str = "scan",
    group: list[str] | None = None,
    idx: str = "idx",
    is_ref: str = "is_ref",
    diff: str = "diff",
    n_q: int = 1,
    exact: bool = False,
    carry: list[str] | None = None,
) -> DataFrame:
    """Per-scan-point aggregation with the reference's exact semantics.

    Input: one row per shot with a precomputed ``diff`` (scalar data,
    n_q=1; for curve data run on the exploded layout and add q to group).
    Output per (group, scan): n_shots, mean_diff, noise (population σ),
    err_of_mean = noise/sqrt(n_shots_full), mean/max chi2_0, plus each
    ``carry`` column — a per-group column such as :func:`ref_average`'s,
    constant over each group, passed through unchanged.

    cf. trx/dataReduction.py:159-196. ONE window pass + ONE groupBy:
    chi2 comes out of the same aggregation via the algebraic identity
    Σ(d−m)² = Σd² − 2mΣd + nm², and max z² via convexity (the max of a
    convex function over a set is at its min or max element), so the
    shot table is scanned/sorted exactly once. (Round 1 joined the
    means back and re-aggregated — a second full window stack over the
    shots; measured 3.4 s → 2.1 s at sf0.1.) The only shuffle is on
    (group, scan), whose post-agg cardinality is tiny at any scale.

    Numerics note: the identity form cancels catastrophically only when
    |mean| ≫ stddev; diffs are difference signals centered near zero,
    where it agrees with the two-pass form to ~1 ulp (golden-tested at
    rtol 1e-9).
    """
    group = group or []
    keys = [*group, scan]

    # Subsample decision: per-scan-point row numbers (acquisition order)
    # + the "scan point == entire reference set" test (W2, see
    # _mark_subsample). When it holds, average rows 1,3,5,… only.
    enriched = _mark_subsample(df, keys=keys, ref_keys=group, idx=idx, is_ref=is_ref)

    used = F.when(F.col("_use"), F.col(diff))
    mean_fn = davg if exact else F.avg
    std_fn = dstddev_pop if exact else F.stddev_pop
    sum_fn = dsum if exact else F.sum
    # noise over the FULL scan point (dataReduction.py:175 runs before the
    # [::2] subsampling at :179); mean over the subsampled rows.
    agg = enriched.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_shots"),
        F.sum(F.col("_use").cast("int")).alias("n_used"),
        mean_fn(used).alias("mean_diff"),
        std_fn(F.col(diff)).alias("noise"),
        sum_fn(used).alias("_s1"),
        sum_fn(used * F.col(diff)).alias("_s2"),
        F.max(used).alias("_dmax"),
        F.min(used).alias("_dmin"),
        # constant per group, so max is that value (first() would mark
        # the aggregate non-deterministic for the optimizer)
        *(F.max(c).alias(c) for c in carry or []),
    )
    m = F.col("mean_diff")
    noise = F.col("noise")
    nq = F.lit(float(n_q))
    ss = (F.col("_s2") - (F.lit(2.0) * m) * F.col("_s1")) + (
        F.col("n_used").cast("double") * (m * m)
    )
    zmax = (F.col("_dmax") - m) / noise
    zmin = (F.col("_dmin") - m) / noise
    return agg.withColumns(
        {
            "err_of_mean": noise / F.sqrt(F.col("n_shots")),
            "mean_chi2_0": ((ss / (noise * noise)) / nq) / F.col("n_used").cast("double"),
            "max_chi2_0": F.greatest(zmax * zmax, zmin * zmin) / nq,
        }
    ).drop("_s1", "_s2", "_dmax", "_dmin")


def ref_average(
    shots: DataFrame,
    *,
    group: list[str] | None = None,
    is_ref: str = "is_ref",
    value: str = "i",
    out: str = "ref_avg",
    exact: bool = False,
) -> DataFrame:
    """A9: the average of the REFERENCE shots per group (per q for curve
    layouts) — ``ref_average = nanmean(data[isRef], axis=0)``
    (trx/dataReduction.py:137) — added to every shot as the full-frame
    window column ``out`` over the ``group`` partitions, the ones the
    interpolation already shuffled to. NULL in a group with no reference
    shot (the reference propagates NaN there). On the exact path the
    column is ``wdsum`` / count over the frame, bit-identical to
    ``davg`` over the group's reference rows. With no ``group`` the
    frame is the whole table, like the group-less interpolation."""
    w = Window.partitionBy(*(group or []))
    ref = F.when(F.col(is_ref), F.col(value))
    avg = wdsum(ref, w) / F.count(ref).over(w) if exact else F.avg(ref).over(w)
    return shots.withColumn(out, avg)


def diffs_plus_ref(
    scan_points: DataFrame,
    *,
    diff: str = "mean_diff",
    ref: str = "ref_avg",
    out: str = "diff_plus_ref",
) -> DataFrame:
    """F-arr5: add the reference average back onto the averaged diffs —
    ``diffs_plus_ref = diffs + ref_average`` (trx/dataReduction.py:199,
    re-used after filtering at trx/filters.py:47 and written by the S11
    sink as diff_plus_ref_av_matrix, trx/dataReduction.py:256-257).

    ``scan_points`` is the output of :func:`average_scan_points` over
    shots that carry :func:`ref_average`'s column, passed through with
    ``carry=[ref]``: the add-back is a projection, with no summary
    aggregated apart and joined back. A group with no reference shots
    keeps its scan points with a NULL add-back."""
    return scan_points.withColumn(out, F.col(diff) + F.col(ref))


def _wsum(col: Column, w, exact: bool) -> Column:
    """Σ col over the window ``w``: fixed-point when ``exact``, else native."""
    return wdsum(col, w) if exact else F.sum(col).over(w)


def _noise_and_mean_used(d: Column, use: Column, w, exact: bool) -> tuple[Column, Column]:
    """``(noise, mean_used)`` of ``d`` over the full-frame window ``w``:
    the population σ from the first two moments of every row, and the
    mean over the rows the W2 flag ``use`` keeps."""
    n = F.count(d).over(w)
    s1 = _wsum(d, w, exact)
    s2 = _wsum(d * d, w, exact)
    noise = F.sqrt(F.greatest((s2 - s1 * s1 / n) / n, F.lit(0.0)))
    used = F.when(use, d)
    return noise, _wsum(used, w, exact) / F.count(used).over(w)


def chi2_0_per_shot(
    df: DataFrame,
    *,
    scan: str = "scan",
    group: list[str] | None = None,
    idx: str = "idx",
    is_ref: str = "is_ref",
    diff: str = "diff",
    n_q: int = 1,
    exact: bool = False,
) -> DataFrame:
    """Per-shot chi2_0 (trx/dataReduction.py:187-193) as analytic windows —
    keeps every row, adding ``chi2_0`` (NULL for rows dropped by the
    every-second-reference rule, which the reference never scores),
    plus ``noise`` and ``mean_diff`` context columns."""
    group = group or []
    keys = [*group, scan]
    w_full = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    d = F.col(diff)
    enriched = _mark_subsample(df, keys=keys, ref_keys=group, idx=idx, is_ref=is_ref)
    noise, mean_used = _noise_and_mean_used(d, F.col("_use"), w_full, exact)
    enriched = enriched.withColumns({"_noise": noise, "_mean_used": mean_used})
    z = (d - F.col("_mean_used")) / F.col("_noise")
    # z·z, not pow(z,2): pow is not guaranteed correctly rounded across
    # engines; multiplication is.
    chi2 = F.when(F.col("_use"), z * z / n_q)
    return (
        enriched.withColumns(
            {"chi2_0": chi2, "noise": F.col("_noise"), "mean_diff": F.col("_mean_used")}
        )
        .withColumnRenamed("_use", "used_in_avg")
        .drop("_noise", "_mean_used")
    )


def chi2_0_per_shot_curves(
    df: DataFrame,
    *,
    shot: str = "file",
    scan: str = "scan",
    q: str = "q_idx",
    group: list[str] | None = None,
    idx: str = "idx",
    is_ref: str = "is_ref",
    diff: str = "diff",
    exact: bool = False,
) -> DataFrame:
    """Per-shot chi2_0 for CURVE data (the reference's true shape):
    chi2_0 = Σ_q ((diff − mean_diff_q)/noise_q)² / nQ per shot
    (trx/dataReduction.py:187-193 with the sum over the q axis at :190).

    Input is the exploded narrow layout — one row per (shot, q). Stats
    are per (group, scan, q) — ``group`` is the run key, so each run's
    statistics window is an independent partition; the q-sum is a
    groupBy(shot). Subsampling (W2) applies per shot, which on
    rectangular curves equals the per-(scan,q) row-number rule used
    here."""
    group = group or []
    keys = [*group, scan, q]
    w_full = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    d = F.col(diff)
    enriched = _mark_subsample(df, keys=keys, ref_keys=[*group, q], idx=idx, is_ref=is_ref)
    noise, mean_used = _noise_and_mean_used(d, F.col("_use"), w_full, exact)
    z = (d - mean_used) / noise
    per_row = enriched.withColumn("_z2", z * z)
    chi2_sum = dsum(F.col("_z2")) if exact else F.sum("_z2")
    # the q-sum groups by (group, shot, scan) — shot identifiers are
    # only unique WITHIN a run (per-run folders reuse img_0001 etc.),
    # so omitting the run key would blend colliding shots across runs
    return (
        per_row.filter(F.col("_use"))
        .groupBy(*group, shot, scan)
        .agg(
            (chi2_sum / F.count(F.lit(1))).alias("chi2_0"),
            F.count(F.lit(1)).alias("n_q"),
        )
    )
