"""Outlier / data-quality filters (trx/filters.py re-expressed in Spark).

Design rule (SURVEY §2.8): filters are *non-destructive* — they add boolean
provenance columns instead of deleting rows; re-aggregation is just
re-running the agg over ``WHERE NOT excluded`` (trx applyFilters,
filters.py:26-48, becomes a view, not a recursive dict walk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_mad_scalars(
    df: DataFrame,
    *,
    value: str,
    median_out: str = "median",
    mad_out: str = "mad",
    scaled: bool = True,
) -> DataFrame:
    """Global median + MAD as a two-pass AGGREGATE (1-row DataFrame).

    The analytic-window formulation (``percentile(...).over(partitionBy
    (lit(1)))``) funnels every row through one task; as aggregates the
    exact ``percentile`` does map-side partial aggregation (per-partition
    value→count maps merged on one reducer of scalars), so the row data
    never converges on a single task. Same arithmetic as ``mad_columns``
    → bit-identical results. Cross-join (broadcast) the result back.
    """
    scale = F.lit(0.6744897501960817) if scaled else F.lit(1.0)
    med = df.agg(F.expr(f"percentile({value}, 0.5)").alias(median_out))
    withmed = df.select(F.col(value)).crossJoin(F.broadcast(med))
    return withmed.agg(
        F.first(median_out).alias(median_out),
        (F.expr(f"percentile(abs({value} - {median_out}), 0.5)") / scale).alias(mad_out),
    )


def mad_columns(
    df: DataFrame,
    *,
    value: str,
    partition: list[str] | None = None,
    median_out: str = "median",
    mad_out: str = "mad",
    scaled: bool = True,
) -> DataFrame:
    """Median + MAD per partition as analytic windows.

    statsmodels.robust.mad (trx/filters.py:70,93) is
    ``median(|x − median(x)|) / 0.6745`` (normal-consistency scaling).
    Exact medians via ``percentile`` (not approx) for oracle parity.
    With no partition keys the global scalars are computed as two-pass
    aggregates (``global_mad_scalars``) and broadcast back — never a
    single-partition window.
    """
    partition = partition or []
    if not partition:
        stats = global_mad_scalars(
            df, value=value, median_out=median_out, mad_out=mad_out, scaled=scaled
        )
        return df.crossJoin(F.broadcast(stats))
    w = Window.partitionBy(*partition)
    med = F.expr(f"percentile({value}, 0.5)").over(w)
    out = df.withColumn(median_out, med)
    dev = F.abs(F.col(value) - F.col(median_out))
    out = out.withColumn("_absdev", dev)
    mad = F.expr("percentile(_absdev, 0.5)").over(w)
    if scaled:
        # statsmodels c = Φ⁻¹(3/4) ≈ 0.6744897501960817
        mad = mad / F.lit(0.6744897501960817)
    return out.withColumn(mad_out, mad).drop("_absdev")


def chi2_filter_threshold(
    chi2_df: DataFrame,
    *,
    chi2: str = "chi2_0",
    pct: float = 0.95,
    group: list[str] | None = None,
):
    """'auto' threshold = 95th percentile of chi2_0 (trx/filters.py:106).

    With no ``group`` this is a 1-row DataFrame — keep it lazy and
    cross-join (broadcast) so the threshold never round-trips through
    the driver. With ``group`` (a multi-run batch) the percentile is
    PER GROUP — the reference applies chi2Filter per folder, i.e. per
    run, so one noisy run must not raise the shared threshold and let
    bad shots in quiet runs through."""
    pctl = F.expr(f"percentile({chi2}, {pct})").alias("chi2_threshold")
    if group:
        return chi2_df.groupBy(*group).agg(pctl)
    return chi2_df.agg(pctl)


def chi2_filter(
    chi2_df: DataFrame,
    *,
    chi2: str = "chi2_0",
    threshold: float | None = None,
    flag_out: str = "chi2_excluded",
    group: list[str] | None = None,
) -> DataFrame:
    """Flag whole shots whose chi2_0 exceeds the threshold
    (auto = 95th pct, per ``group`` when given — see
    chi2_filter_threshold; trx/filters.py:103-120). Non-destructive."""
    if threshold is None:
        thr = chi2_filter_threshold(chi2_df, chi2=chi2, group=group)
        if group:
            # one row per run — scales with run count, no broadcast hint
            out = chi2_df.join(thr, list(group))
        else:
            out = chi2_df.crossJoin(F.broadcast(thr))
        return out.withColumn(flag_out, F.col(chi2) > F.col("chi2_threshold"))
    return chi2_df.withColumns(
        {"chi2_threshold": F.lit(threshold), flag_out: F.col(chi2) > F.lit(threshold)}
    )

