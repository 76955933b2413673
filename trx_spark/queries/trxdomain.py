"""trx-domain operators exercised on the driver's generic tables.

The `events` table plays the role of the experiment: `ts` order is the
acquisition index, `event_type = 'view'` rows are the laser-off
references, `value` is the (scalar) signal, `event_type` is the scan
point. `lineitem` plays the pixel table for the binned integration
(`l_suppkey` = image, `l_extendedprice` = radial coordinate,
`l_quantity` = intensity, `1 + l_discount` = pixel weight).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import sql_davg, sql_dstddev_pop, sql_dsum, sql_wdsum
from trx_spark.operators import azav, cell, filters, reduction
from trx_spark.tables import load_table

# ---------------------------------------------------------------------
# Shared events→shots base (Spark side) and its oracle CTE (DuckDB side)
#
# Scale design: a "run" is a hash-bucketed shard of the event stream
# (run = event_id % 16) — the synthetic stand-in for the reference's
# one-folder-per-run layout (trx/id9.py doFolder processes one run at a
# time). Every window below partitions by run, so at 100 TB each run is
# an independent window partition and nothing funnels through a single
# task. (The natural-key variant — run = user_id — is exercised by
# asof_interp_per_user in trxdomain2.py; a deliberately-global small
# window survives in relational.slice_skip_first_last for coverage.)
# ---------------------------------------------------------------------

_N_RUNS = 16


def _events_shots(
    spark: SparkSession, sf_dir: str, *, n_runs: int = _N_RUNS
) -> DataFrame:
    # gate default matches the oracle CTE; a deployment sets n_runs ∝
    # stream volume (events per run ≈ one task's window-sort budget)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("run").orderBy("ts_ns", "event_id")
    return (
        ev.withColumn("run", (F.col("event_id") % n_runs).cast("long"))
        .withColumn("idx", F.row_number().over(w).cast("long"))
        .select(
            "event_id",
            "run",
            F.col("value").alias("i"),
            (F.col("event_type") == "view").alias("is_ref"),
            "event_type",
            "idx",
        )
    )


_SHOTS_CTE = f"""
base AS (
  SELECT event_id, CAST(event_id % {_N_RUNS} AS BIGINT) AS run,
         value AS i, (event_type = 'view') AS is_ref, event_type,
         row_number() OVER (PARTITION BY event_id % {_N_RUNS} ORDER BY ts, event_id) AS idx
  FROM events
)"""

_INTERP_CTE = (
    _SHOTS_CTE
    + """,
nb AS (
  SELECT *,
    last_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_prev AS prev_ref_idx,
    last_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_prev AS prev_ref_val,
    first_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_next AS next_ref_idx,
    first_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_next AS next_ref_val,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
      OVER (PARTITION BY run ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ref_rank
  FROM base
  WINDOW
    w_prev AS (PARTITION BY run ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY run ORDER BY idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
edges AS (
  SELECT run, count(*) AS n_refs,
         max(CASE WHEN rn = 1 THEN i END) AS first_ref_val,
         max(CASE WHEN rn = 2 THEN i END) AS second_ref_val,
         max(CASE WHEN rn = nr THEN i END) AS last_ref_val,
         max(CASE WHEN rn = nr - 1 THEN i END) AS secondlast_ref_val
  FROM (SELECT run, i, row_number() OVER (PARTITION BY run ORDER BY idx) AS rn,
               count(*) OVER (PARTITION BY run) AS nr
        FROM base WHERE is_ref) t
  GROUP BY run
),
interp AS (
  SELECT nb.*,
    CASE
      WHEN e.n_refs = 1 THEN e.first_ref_val
      WHEN nb.is_ref THEN CASE
           WHEN nb.ref_rank = 1 THEN e.second_ref_val
           WHEN nb.ref_rank = e.n_refs THEN e.secondlast_ref_val
           WHEN nb.ref_rank = e.n_refs - 1 THEN nb.i
           ELSE nb.prev_ref_val
                + (nb.next_ref_val - nb.prev_ref_val) / (nb.next_ref_idx - nb.prev_ref_idx)
                  * (nb.idx - nb.prev_ref_idx) END
      WHEN nb.prev_ref_idx IS NULL THEN e.first_ref_val
      WHEN nb.next_ref_idx IS NULL THEN e.last_ref_val
      ELSE nb.prev_ref_val
           + (nb.next_ref_val - nb.prev_ref_val) / (nb.next_ref_idx - nb.prev_ref_idx)
             * (nb.idx - nb.prev_ref_idx)
    END AS iref
  FROM nb LEFT JOIN edges e USING (run)
),
diffs AS (SELECT *, i - iref AS diff FROM interp)"""
)


# asof_interp_refs / scanpoint_stats / diffs_plus_ref /
# chi2_filter_auto all consume the SAME interpolated diff bank over the
# events shots; memoize its localCheckpoint so one session builds it
# once (same pattern as the trxdomain3 curve bank).
def _diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        "events_diff_bank",
        (spark, sf_dir),
        lambda: reduction.time_resolved_diff(
            _events_shots(spark, sf_dir), group=["run"], idx="idx",
            is_ref="is_ref", value="i",
        ).localCheckpoint(),
    )


# ---------------------------------------------------------------------
# J2 / W1 / W5: as-of reference interpolation
# ---------------------------------------------------------------------


def asof_interp_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of interpolation join (SURVEY J2; trx/dataReduction.py:15-85),
    partitioned by the hash-shard run key (one window partition per run)."""
    return _diffs(spark, sf_dir).select(
        "event_id", "run", "idx", "is_ref", "i", "iref", "diff"
    )


_ASOF_SQL = f"""
WITH {_INTERP_CTE}
SELECT event_id, run, idx, is_ref, i, iref, diff FROM diffs
"""

# ---------------------------------------------------------------------
# A4-A7 / W2: scan-point averaging with chi2
# ---------------------------------------------------------------------


def scanpoint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-scan-point reduction (SURVEY A4-A7, W2;
    trx/dataReduction.py:159-196)."""
    # _diffs is already checkpointed (and memoized) — the reduction's
    # several branches (stats + chi2 + join-back) read the same blocks
    d = _diffs(spark, sf_dir)
    return reduction.average_scan_points(
        d, scan="event_type", group=["run"], idx="idx", is_ref="is_ref", diff="diff",
        exact=True,
    ).select(
        "run",
        "event_type",
        "n_shots",
        "n_used",
        "mean_diff",
        "noise",
        "err_of_mean",
        "mean_chi2_0",
        "max_chi2_0",
    )


_SCAN_SQL = f"""
WITH {_INTERP_CTE},
marked AS (
  SELECT *,
    row_number() OVER (PARTITION BY run, event_type ORDER BY idx) AS rn,
    min(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, event_type) AS all_ref,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, event_type) AS sp_refs,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run) AS grp_refs
  FROM diffs
),
used AS (SELECT *, (all_ref = 0 OR sp_refs <> grp_refs OR rn % 2 = 1) AS use_row FROM marked),
stats AS (
  SELECT run, event_type,
    CAST(count(*) AS BIGINT) AS n_shots,
    CAST(SUM(CASE WHEN use_row THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
    {sql_davg('CASE WHEN use_row THEN diff END')} AS mean_diff,
    {sql_dstddev_pop('diff')} AS noise,
    {sql_dsum('CASE WHEN use_row THEN diff END')} AS s1,
    {sql_dsum('CASE WHEN use_row THEN diff * diff END')} AS s2,
    MAX(CASE WHEN use_row THEN diff END) AS dmax,
    MIN(CASE WHEN use_row THEN diff END) AS dmin
  FROM used GROUP BY run, event_type
)
SELECT run, event_type, n_shots, n_used, mean_diff, noise,
  noise / SQRT(n_shots) AS err_of_mean,
  ((((s2 - ((CAST(2.0 AS DOUBLE) * mean_diff) * s1))
     + (CAST(n_used AS DOUBLE) * (mean_diff * mean_diff)))
    / (noise * noise)) / CAST(1.0 AS DOUBLE)) / CAST(n_used AS DOUBLE) AS mean_chi2_0,
  GREATEST(((dmax - mean_diff) / noise) * ((dmax - mean_diff) / noise),
           ((dmin - mean_diff) / noise) * ((dmin - mean_diff) / noise))
    / CAST(1.0 AS DOUBLE) AS max_chi2_0
FROM stats
"""

# ---------------------------------------------------------------------
# A9 + F-arr5: reference average added back onto the averaged diffs
# ---------------------------------------------------------------------


def diffs_plus_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diff + ref_average add-back (SURVEY F-arr5;
    trx/dataReduction.py:199 ``diffs_plus_ref = diffs + ref_average``,
    re-used after filtering at trx/filters.py:47 and written by the S11
    sink as diff_plus_ref_av_matrix, trx/dataReduction.py:256-257).
    The ref average is a full-frame window column over the run
    partitions that the scan points carry to the add-back — no join."""
    d = reduction.ref_average(
        _diffs(spark, sf_dir), group=["run"], is_ref="is_ref", value="i", exact=True
    )
    sp = reduction.average_scan_points(
        d, scan="event_type", group=["run"], idx="idx", is_ref="is_ref", diff="diff",
        exact=True, carry=["ref_avg"],
    )
    return reduction.diffs_plus_ref(sp).select(
        "run", "event_type", "mean_diff", "ref_avg", "diff_plus_ref"
    )


_DPR_SQL = f"""
WITH {_INTERP_CTE},
marked AS (
  SELECT *,
    row_number() OVER (PARTITION BY run, event_type ORDER BY idx) AS rn,
    min(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, event_type) AS all_ref,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, event_type) AS sp_refs,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run) AS grp_refs
  FROM diffs
),
used AS (SELECT *, (all_ref = 0 OR sp_refs <> grp_refs OR rn % 2 = 1) AS use_row FROM marked),
stats AS (
  SELECT run, event_type,
    {sql_davg('CASE WHEN use_row THEN diff END')} AS mean_diff
  FROM used GROUP BY run, event_type
),
ref AS (
  SELECT run, {sql_davg('i')} AS ref_avg FROM base WHERE is_ref GROUP BY run
)
SELECT s.run, s.event_type, s.mean_diff, r.ref_avg,
       s.mean_diff + r.ref_avg AS diff_plus_ref
FROM stats s JOIN ref r USING (run)
"""

# ---------------------------------------------------------------------
# F1: chi2 filter with auto (95th-percentile) threshold
# ---------------------------------------------------------------------


def chi2_filter_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shot chi2_0 + auto-threshold filter (SURVEY A7+F1;
    trx/filters.py:103-120)."""
    d = _diffs(spark, sf_dir)
    per_shot = reduction.chi2_0_per_shot(
        d, scan="event_type", group=["run"], idx="idx", is_ref="is_ref", diff="diff",
        exact=True,
    )
    flagged = filters.chi2_filter(per_shot, chi2="chi2_0", threshold=None)
    return flagged.select("event_id", "chi2_0", "chi2_threshold", "chi2_excluded")


_CHI2_FILTER_SQL = f"""
WITH {_INTERP_CTE},
marked AS (
  SELECT *,
    row_number() OVER (PARTITION BY run, event_type ORDER BY idx) AS rn,
    min(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, event_type) AS all_ref,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, event_type) AS sp_refs,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run) AS grp_refs
  FROM diffs
),
used AS (SELECT *, (all_ref = 0 OR sp_refs <> grp_refs OR rn % 2 = 1) AS use_row FROM marked),
stats AS (
  SELECT run, event_type,
    {sql_davg('CASE WHEN use_row THEN diff END')} AS mean_used,
    {sql_dstddev_pop('diff')} AS noise
  FROM used GROUP BY run, event_type
),
scored AS (
  SELECT u.event_id,
    CASE WHEN u.use_row
         THEN ((u.diff - s.mean_used)/s.noise) * ((u.diff - s.mean_used)/s.noise) / 1
    END AS chi2_0
  FROM used u JOIN stats s USING (run, event_type)
),
thr AS (SELECT quantile_cont(chi2_0, 0.95)::DOUBLE AS chi2_threshold FROM scored)
SELECT sc.event_id, sc.chi2_0, t.chi2_threshold,
       sc.chi2_0 > t.chi2_threshold AS chi2_excluded
FROM scored sc, thr t
"""

# ---------------------------------------------------------------------
# A1/A2: azimuthal integration as binned weighted aggregation
# ---------------------------------------------------------------------

_Q_MIN, _Q_MAX, _N_BINS = 900.0, 105000.0, 32
_STEP = (_Q_MAX - _Q_MIN) / _N_BINS
_CHI_MIN, _CHI_MAX, _N_CHI = 0.0, 0.11, 5
_CHI_STEP = (_CHI_MAX - _CHI_MIN) / _N_CHI


def azint_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D azimuthal integration (SURVEY A1; trx/azav.py:131-154) over the
    lineitem 'pixel table'."""
    li = load_table(spark, sf_dir, "lineitem")
    out = azav.integrate_1d(
        li,
        image=["l_suppkey"],
        q="l_extendedprice",
        intensity="l_quantity",
        weight=F.lit(1.0) + F.col("l_discount"),
        q_min=_Q_MIN,
        q_max=_Q_MAX,
        n_bins=_N_BINS,
        exact=True,
    )
    return out.select("l_suppkey", "q_bin", "i", "err", "n_pix", "q")


_AZINT1D_SQL = f"""
WITH px AS (
  SELECT l_suppkey,
    CAST(LEAST(GREATEST(FLOOR((l_extendedprice - {_Q_MIN!r}) / {_STEP!r}), 0), {_N_BINS - 1}) AS INTEGER) AS q_bin,
    l_quantity - 0.0 AS sig,
    1.0 + l_discount AS w
  FROM lineitem)
SELECT l_suppkey, q_bin,
  {sql_dsum('sig * w')} / {sql_dsum('w')} AS i,
  SQRT({sql_dsum('sig')}) / COUNT(*) AS err,
  CAST(COUNT(*) AS BIGINT) AS n_pix,
  CAST({_Q_MIN!r} AS DOUBLE) + (q_bin + CAST(0.5 AS DOUBLE)) * CAST({_STEP!r} AS DOUBLE) AS q
FROM px GROUP BY l_suppkey, q_bin
"""


def azint_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D (q, chi) cake integration (SURVEY A2; trx/azav.py:156-171)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = azav.integrate_2d(
        li,
        image=["l_suppkey"],
        q="l_extendedprice",
        chi="l_discount",
        intensity="l_quantity",
        q_min=_Q_MIN,
        q_max=_Q_MAX,
        n_q=_N_BINS,
        chi_min=_CHI_MIN,
        chi_max=_CHI_MAX,
        n_chi=_N_CHI,
        exact=True,
    )
    return out.select("l_suppkey", "q_bin", "chi_bin", "i", "n_pix", "q", "chi")


_AZINT2D_SQL = f"""
WITH px AS (
  SELECT l_suppkey,
    CAST(LEAST(GREATEST(FLOOR((l_extendedprice - {_Q_MIN!r}) / {_STEP!r}), 0), {_N_BINS - 1}) AS INTEGER) AS q_bin,
    CAST(LEAST(GREATEST(FLOOR((l_discount - {_CHI_MIN!r}) / {_CHI_STEP!r}), 0), {_N_CHI - 1}) AS INTEGER) AS chi_bin,
    l_quantity - 0.0 AS sig
  FROM lineitem)
SELECT l_suppkey, q_bin, chi_bin,
  {sql_dsum('sig * 1.0')} / {sql_dsum('1.0')} AS i,
  CAST(COUNT(*) AS BIGINT) AS n_pix,
  CAST({_Q_MIN!r} AS DOUBLE) + (q_bin + CAST(0.5 AS DOUBLE)) * CAST({_STEP!r} AS DOUBLE) AS q,
  CAST({_CHI_MIN!r} AS DOUBLE) + (chi_bin + CAST(0.5 AS DOUBLE)) * CAST({_CHI_STEP!r} AS DOUBLE) AS chi
FROM px GROUP BY l_suppkey, q_bin, chi_bin
"""

# ---------------------------------------------------------------------
# A3: dezinger (window-percentile outlier flag)
# ---------------------------------------------------------------------


def dezinger_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-baseline zinger flags per (image, bin) neighborhood
    (SURVEY A3/F4; trx/azav.py:119-129)."""
    li = load_table(spark, sf_dir, "lineitem")
    px = li.withColumn(
        "q_bin", azav.q_bin("l_extendedprice", q_min=_Q_MIN, q_max=_Q_MAX, n_bins=_N_BINS)
    )
    out = azav.dezinger(
        px, image=["l_suppkey"], bin_col="q_bin", intensity="l_quantity",
        percentile=0.5, factor=1.5, baseline_out="baseline",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "q_bin",
        "baseline", "is_zinger",
    )


_DEZINGER_SQL = f"""
WITH px AS (
  SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
    CAST(LEAST(GREATEST(FLOOR((l_extendedprice - {_Q_MIN!r}) / {_STEP!r}), 0), {_N_BINS - 1}) AS INTEGER) AS q_bin
  FROM lineitem)
SELECT l_orderkey, l_linenumber, l_suppkey, q_bin,
  quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_suppkey, q_bin) AS baseline,
  l_quantity > 1.5 * (quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_suppkey, q_bin)) AS is_zinger
FROM px
"""

# ---------------------------------------------------------------------
# A10: monitor normalization
# ---------------------------------------------------------------------


def monitor_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image monitor normalization (SURVEY A10; trx/azav.py:431-452):
    each order is an image, lines are its curve points."""
    li = load_table(spark, sf_dir, "lineitem")
    out = azav.monitor_normalize(
        li.select("l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("i")),
        image=["l_orderkey"],
        intensity="i",
        err=None,
        exact=True,
    )
    return out.select("l_orderkey", "l_linenumber", "monitor", F.col("i").alias("i_norm"))


_MONITOR_SQL = f"""
WITH t AS (SELECT l_orderkey, l_linenumber, l_extendedprice AS i FROM lineitem),
m AS (
  SELECT l_orderkey, l_linenumber, i,
    {sql_wdsum('i', 'PARTITION BY l_orderkey')}
      / COUNT(i) OVER (PARTITION BY l_orderkey) AS monitor
  FROM t)
SELECT l_orderkey, l_linenumber, monitor, i / monitor AS i_norm FROM m
"""

# ---------------------------------------------------------------------
# F2/A14: MAD-based zinger removal on the scan signal
# ---------------------------------------------------------------------


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust z-score outlier flags per scan point (SURVEY F2/A14;
    trx/filters.py:51-81): |x − median| / MAD > threshold."""
    ev = load_table(spark, sf_dir, "events")
    out = filters.mad_columns(
        ev.select("event_id", "event_type", "value"),
        value="value",
        partition=["event_type"],
        median_out="med",
        mad_out="mad",
    )
    z = F.abs(F.col("value") - F.col("med")) / F.col("mad")
    return out.select(
        "event_id", "event_type", "value", "med", "mad",
        z.alias("zscore"), (z > 3.0).alias("is_outlier"),
    )


_MAD_SQL = """
WITH med AS (
  SELECT event_id, event_type, value,
    quantile_cont(value, 0.5) OVER (PARTITION BY event_type) AS med
  FROM events
),
withmad AS (
  SELECT *,
    quantile_cont(ABS(value - med), 0.5) OVER (PARTITION BY event_type)
      / 0.6744897501960817 AS mad
  FROM med
)
SELECT event_id, event_type, value, med, mad,
  ABS(value - med) / mad AS zscore,
  (ABS(value - med) / mad) > 3.0 AS is_outlier
FROM withmad
"""

# ---------------------------------------------------------------------
# J4/F-math9: crystallographic reflection list (generated table)
# ---------------------------------------------------------------------

_SI_A = 5.431020504
_TWO_PI = 6.283185307179586


def reflections_cubic_si(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hkl cross-product reflection list for cubic Si (SURVEY J4;
    trx/cell.py:43-61,106). Grouped by the integer h²+k²+l² (bijective
    with q for a cubic cell — sidesteps float group keys)."""
    return cell.reflection_list_cubic(spark, a=_SI_A, max_q=3.0, lim=10)


_REFLECTIONS_SQL = f"""
WITH h AS (SELECT i AS h FROM range(-10, 11) t(i)),
k AS (SELECT i AS k FROM range(-10, 11) t(i)),
l AS (SELECT i AS l FROM range(-10, 11) t(i)),
hkl AS (SELECT h, k, l, h*h + k*k + l*l AS s FROM h, k, l),
q AS (SELECT s, {_TWO_PI!r} * SQRT(s) / {_SI_A!r} AS q FROM hkl)
SELECT CAST(s AS BIGINT) AS s, q, CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM q WHERE q < 3.0 GROUP BY s, q
"""

# ---------------------------------------------------------------------
# F-str1/F-str2/F-str5: delay-string codec round-trip
# ---------------------------------------------------------------------


def delay_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delay-string codec (SURVEY F-str1/2/5; trx/utils/string.py:15-47,
    trx/id9.py:62-67): synthesize delay strings from event ids, parse to
    seconds, format back."""
    from trx_spark.functions.strings import delay_to_num, time_to_str

    ev = load_table(spark, sf_dir, "events")
    n = (F.col("event_id") % 2001 - 1000).cast("long")
    s = F.when(F.col("event_id") % 7 == 0, F.lit("off")).otherwise(
        F.concat(n.cast("string"), F.lit("ps"))
    )
    df = ev.select("event_id").withColumn("delay_str", s)
    df = df.withColumn("delay_s", delay_to_num("delay_str"))
    return df.withColumn("roundtrip", time_to_str("delay_s"))


_DELAY_SQL = """
WITH d AS (
  SELECT event_id,
    CASE WHEN event_id % 7 = 0 THEN 'off'
         ELSE CAST(CAST(event_id % 2001 - 1000 AS BIGINT) AS VARCHAR) || 'ps' END AS delay_str,
    CASE WHEN event_id % 7 = 0 THEN -10.0
         ELSE CAST(CAST(event_id % 2001 - 1000 AS BIGINT) AS DOUBLE) * 1e-12 END AS delay_s
  FROM events
)
SELECT event_id, delay_str, delay_s,
  CASE
    WHEN ABS(delay_s) >= 1 THEN printf('%+.0f', delay_s) || 's'
    WHEN ABS(delay_s) >= 1e-3 THEN printf('%+.0f', delay_s * 1e3) || 'ms'
    WHEN ABS(delay_s) >= 1e-6 THEN printf('%+.0f', delay_s * 1e6) || 'us'
    WHEN ABS(delay_s) >= 1e-9 THEN printf('%+.0f', delay_s * 1e9) || 'ns'
    WHEN ABS(delay_s) >= 1e-12 THEN printf('%+.0f', delay_s * 1e12) || 'ps'
    WHEN ABS(delay_s) >= 1e-15 THEN printf('%+.0f', delay_s * 1e12) || 'fs'
    WHEN ABS(delay_s) >= 1e-18 THEN printf('%+.0f', delay_s * 1e12) || 'as'
    ELSE CAST(delay_s AS VARCHAR) || 's'
  END AS roundtrip
FROM d
"""


QUERIES = {
    "asof_interp_refs": asof_interp_refs,
    "scanpoint_stats": scanpoint_stats,
    "diffs_plus_ref": diffs_plus_ref,
    "chi2_filter_auto": chi2_filter_auto,
    "azint_1d": azint_1d,
    "azint_2d": azint_2d,
    "dezinger_flags": dezinger_flags,
    "monitor_norm": monitor_norm,
    "mad_outliers": mad_outliers,
    "reflections_cubic_si": reflections_cubic_si,
    "delay_codec": delay_codec,
}

ORACLES = {
    "asof_interp_refs": _ASOF_SQL,
    "scanpoint_stats": _SCAN_SQL,
    "diffs_plus_ref": _DPR_SQL,
    "chi2_filter_auto": _CHI2_FILTER_SQL,
    "azint_1d": _AZINT1D_SQL,
    "azint_2d": _AZINT2D_SQL,
    "dezinger_flags": _DEZINGER_SQL,
    "monitor_norm": _MONITOR_SQL,
    "mad_outliers": _MAD_SQL,
    "reflections_cubic_si": _REFLECTIONS_SQL,
    "delay_codec": _DELAY_SQL,
}
