"""Detector-side trx operators on the driver's generic tables: azimuthal
integration and its q-limits (A1/A2, P1), dezinger (A3), monitor
normalization (A10), polygon masks (P13), rebin/nearest snapping (A17),
reflection lists (J4) and the delay/wall-clock string codecs (F-str).

`lineitem` plays the pixel table for the binned integration
(`l_suppkey` = image, `l_extendedprice` = radial coordinate,
`l_quantity` = intensity, `1 + l_discount` = pixel weight); each order
is an image for the monitor normalization; an event is a synthetic
detector pixel for the polygon mask.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.exact import sql_dsum, sql_wdsum
from trx_spark.operators import azav, cell
from trx_spark.tables import load_table

# ---------------------------------------------------------------------
# A1/A2/P1: azimuthal integration as binned weighted aggregation
# ---------------------------------------------------------------------

_Q_MIN, _Q_MAX, _N_BINS = 900.0, 105000.0, 32
_STEP = (_Q_MAX - _Q_MIN) / _N_BINS
_CHI_MIN, _CHI_MAX, _N_CHI = 0.0, 0.11, 5
_CHI_STEP = (_CHI_MAX - _CHI_MIN) / _N_CHI


def _bin_sql(col: str, lo: float, step: float, n: int) -> str:
    """The oracle twin of :func:`azav.q_bin`: ``col``'s bin index,
    clamped to ``[0, n)``."""
    return f"CAST(LEAST(GREATEST(FLOOR(({col} - {lo!r}) / {step!r}), 0), {n - 1}) AS INTEGER)"


def _centre_sql(bin_col: str, lo: float, step: float) -> str:
    """The centre of bin ``bin_col``, as :func:`azav.integrate_1d` writes it."""
    return f"CAST({lo!r} AS DOUBLE) + ({bin_col} + CAST(0.5 AS DOUBLE)) * CAST({step!r} AS DOUBLE)"


_Q_BIN_SQL = _bin_sql("l_extendedprice", _Q_MIN, _STEP, _N_BINS)
_Q_SQL = _centre_sql("q_bin", _Q_MIN, _STEP)


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
    {_Q_BIN_SQL} AS q_bin,
    l_quantity - 0.0 AS sig,
    1.0 + l_discount AS w
  FROM lineitem)
SELECT l_suppkey, q_bin,
  {sql_dsum('sig * w')} / {sql_dsum('w')} AS i,
  SQRT({sql_dsum('sig')}) / COUNT(*) AS err,
  CAST(COUNT(*) AS BIGINT) AS n_pix,
  {_Q_SQL} AS q
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
    {_Q_BIN_SQL} AS q_bin,
    {_bin_sql("l_discount", _CHI_MIN, _CHI_STEP, _N_CHI)} AS chi_bin,
    l_quantity - 0.0 AS sig
  FROM lineitem)
SELECT l_suppkey, q_bin, chi_bin,
  {sql_dsum('sig * 1.0')} / {sql_dsum('1.0')} AS i,
  CAST(COUNT(*) AS BIGINT) AS n_pix,
  {_Q_SQL} AS q,
  {_centre_sql("chi_bin", _CHI_MIN, _CHI_STEP)} AS chi
FROM px GROUP BY l_suppkey, q_bin, chi_bin
"""

_QLIM = (20000.0, 80000.0)


def azint_qlims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q-range slice of the curve bank (SURVEY P1; trx/azav.py:415-429):
    the filter composes onto the integration aggregation lazily."""
    li = load_table(spark, sf_dir, "lineitem")
    out = azav.integrate_1d(
        li,
        image=["l_suppkey"],
        q="l_extendedprice",
        intensity="l_quantity",
        q_min=_Q_MIN,
        q_max=_Q_MAX,
        n_bins=_N_BINS,
        exact=True,
    )
    return out.filter((F.col("q") >= _QLIM[0]) & (F.col("q") <= _QLIM[1])).select(
        "l_suppkey", "q_bin", "i", "err", "n_pix", "q"
    )


_AZINT_QLIMS_SQL = f"""
WITH px AS (
  SELECT l_suppkey,
    {_Q_BIN_SQL} AS q_bin,
    l_quantity - 0.0 AS sig,
    1.0 AS w
  FROM lineitem),
curves AS (
  SELECT l_suppkey, q_bin,
    {sql_dsum('sig * w')} / {sql_dsum('w')} AS i,
    SQRT({sql_dsum('sig')}) / COUNT(*) AS err,
    CAST(COUNT(*) AS BIGINT) AS n_pix,
    {_Q_SQL} AS q
  FROM px GROUP BY l_suppkey, q_bin)
SELECT * FROM curves WHERE q >= {_QLIM[0]!r} AND q <= {_QLIM[1]!r}
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
    {_Q_BIN_SQL} AS q_bin
  FROM lineitem)
SELECT l_orderkey, l_linenumber, l_suppkey, q_bin,
  quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_suppkey, q_bin) AS baseline,
  l_quantity > 1.5 * (quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_suppkey, q_bin)) AS is_zinger
FROM px
"""

# ---------------------------------------------------------------------
# A10: monitor normalization (mean, and the q-window median flavor of
# dataReduction.py:236-237)
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

_QW = (1000.0, 50000.0)


def monitor_qwindow_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = azav.monitor_normalize(
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("q"),
            F.col("l_quantity").alias("i"),
        ),
        image=["l_orderkey"],
        q="q",
        intensity="i",
        err=None,
        q_window=_QW,
        use_median=True,
    )
    return out.select("l_orderkey", "l_linenumber", "monitor", F.col("i").alias("i_norm"))


_MONITOR_MED_SQL = f"""
WITH t AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice AS q, l_quantity AS i
  FROM lineitem
),
m AS (
  SELECT l_orderkey, l_linenumber, i,
    quantile_cont(CASE WHEN q >= {_QW[0]!r} AND q <= {_QW[1]!r} THEN i END, 0.5)
      OVER (PARTITION BY l_orderkey) AS monitor
  FROM t)
SELECT l_orderkey, l_linenumber, monitor, i / monitor AS i_norm FROM m
"""

# ---------------------------------------------------------------------
# P13: polygon mask components (even-odd ray cast, trx/mask.py:48-52)
# with ordered add/subtract composition (trx/mask.py:128-135)
# ---------------------------------------------------------------------

# concave pentagon + a subtracted triangular hole, in the synthetic
# detector plane px ∈ [0, 317), py ∈ [0, 211)
_POLY_ADD = [(30, 20), (280, 40), (250, 190), (160, 90), (60, 180)]
_POLY_SUB = [(100, 40), (220, 60), (180, 160)]


def polygon_mask_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon masking (SURVEY P13; trx/mask.py:48-52, :104-105,
    :128-135): each event is a synthetic detector pixel; ``masked`` is
    the ordered add-polygon / subtract-polygon composition. The whole
    mask is one scan-level predicate — no bitmap, no join, no UDF."""
    from trx_spark.operators import masks

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_id",
        (F.col("event_id") % 317).cast("double").alias("px"),
        (F.col("event_id") % 211).cast("double").alias("py"),
    )
    add = masks.mask_polygon(_POLY_ADD, x="px", y="py")
    sub = masks.mask_polygon(_POLY_SUB, x="px", y="py")
    return d.withColumn("in_poly", add).withColumn(
        "masked", masks.combine_masks([("add", add), ("subtract", sub)])
    )


def _polygon_sql() -> str:
    from trx_spark.operators import masks

    add = masks.mask_polygon_sql(_POLY_ADD, x="px", y="py")
    sub = masks.mask_polygon_sql(_POLY_SUB, x="px", y="py")
    return f"""
WITH d AS (
  SELECT event_id,
         CAST(event_id % 317 AS DOUBLE) AS px,
         CAST(event_id % 211 AS DOUBLE) AS py
  FROM events
)
SELECT event_id, px, py, {add} AS in_poly,
  CASE WHEN {sub} THEN FALSE WHEN {add} THEN TRUE ELSE FALSE END AS masked
FROM d
"""


_POLYGON_SQL = _polygon_sql()

# ---------------------------------------------------------------------
# A17: nearest-of-set snap + rebin to uniform centers
# ---------------------------------------------------------------------


def rebin_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """utils.numeric approx/rebin (SURVEY A17): snap each quantity to the
    nearest of {5,15,25,35,45} (half-open midpoint boundaries) and to a
    uniform 10-wide bin center — both as closed-form expressions that
    make floats groupable keys."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    nearest = (
        F.when(x < 10.0, 5.0)
        .when(x < 20.0, 15.0)
        .when(x < 30.0, 25.0)
        .when(x < 40.0, 35.0)
        .otherwise(45.0)
    )
    rebin = F.floor(x / 10.0) * 10.0 + 5.0
    return (
        li.select("l_quantity")
        .withColumn("nearest", nearest)
        .withColumn("rebin_center", rebin)
        .groupBy("nearest", "rebin_center")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_REBIN_SQL = """
SELECT nearest, rebin_center, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT
    CAST(CASE WHEN l_quantity < 10.0 THEN 5.0
         WHEN l_quantity < 20.0 THEN 15.0
         WHEN l_quantity < 30.0 THEN 25.0
         WHEN l_quantity < 40.0 THEN 35.0
         ELSE 45.0 END AS DOUBLE) AS nearest,
    CAST(FLOOR(l_quantity / 10.0) * 10.0 + 5.0 AS DOUBLE) AS rebin_center
  FROM lineitem) t
GROUP BY nearest, rebin_center
"""

# ---------------------------------------------------------------------
# J4/F-math9: crystallographic reflection lists (generated tables)
# ---------------------------------------------------------------------

_SI_A = 5.431020504
_TWO_PI = 2 * math.pi


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

# β-Ti3O5-like triclinic cell, raw-double q grouping
_TI = cell.Triclinic(a=9.83776, b=3.78674, c=9.97069, beta=91.2567)


def reflections_triclinic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full triclinic reflection list (trx/cell.py:100 ti3o5_lambda) with
    raw-double q group keys (identical expression trees make them
    bit-equal across engines; see reflection_list round_q docstring)."""
    return cell.reflection_list(spark, _TI, max_q=3.0, lim=6, round_q=False)


_TRICLINIC_SQL = f"""
WITH h AS (SELECT i AS h FROM range(-6, 7) t(i)),
k AS (SELECT i AS k FROM range(-6, 7) t(i)),
l AS (SELECT i AS l FROM range(-6, 7) t(i)),
q AS (
  SELECT CAST({_TWO_PI!r} AS DOUBLE) * SQRT(
      CAST({_TI.s11!r} AS DOUBLE) * (h*h) + CAST({_TI.s22!r} AS DOUBLE) * (k*k)
      + CAST({_TI.s33!r} AS DOUBLE) * (l*l)
      + CAST({2 * _TI.s12!r} AS DOUBLE) * (h*k) + CAST({2 * _TI.s23!r} AS DOUBLE) * (k*l)
      + CAST({2 * _TI.s13!r} AS DOUBLE) * (h*l)
    ) / CAST({_TI.V!r} AS DOUBLE) AS q
  FROM h, k, l
)
SELECT q, CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM q WHERE q < 3.0 GROUP BY q ORDER BY q
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

# ---------------------------------------------------------------------
# F-str6: wall-clock duration info (timesToInfo)
# ---------------------------------------------------------------------


def times_to_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration between first/last HH:MM:SS wall-clock strings per user
    (SURVEY F-str6; trx/id9.py:69-85): hour/minute string math with
    midnight wrap-around, exactly as the reference computes it."""
    ev = load_table(spark, sf_dir, "events")
    t = F.date_format(F.col("ts"), "HH:mm:ss")
    per = ev.withColumn("_t", t).groupBy("user_id").agg(
        F.min(F.struct("ts_ns", "_t")).alias("_first"),
        F.max(F.struct("ts_ns", "_t")).alias("_last"),
    )
    first_t = F.col("_first._t")
    last_t = F.col("_last._t")
    fh = F.split(first_t, ":").getItem(0).cast("int")
    fm = F.split(first_t, ":").getItem(1).cast("int")
    lh = F.split(last_t, ":").getItem(0).cast("int")
    lm = F.split(last_t, ":").getItem(1).cast("int")
    dh0 = lh - fh
    dm0 = lm - fm
    dm = F.when(dm0 < 0, dm0 + 60).otherwise(dm0)
    dh1 = F.when(dm0 < 0, dh0 - 1).otherwise(dh0)
    dh = F.when(dh1 < 0, dh1 + 24).otherwise(dh1)
    return per.select(
        "user_id",
        first_t.alias("first_time"),
        last_t.alias("last_time"),
        (dh * 60 + dm).cast("int").alias("dt_mins"),
    )


_TIMES_INFO_SQL = """
WITH t AS (
  SELECT user_id, strftime(ts, '%H:%M:%S') AS hms,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn_a,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn_d
  FROM events
),
fl AS (
  SELECT user_id,
    MAX(CASE WHEN rn_a = 1 THEN hms END) AS first_time,
    MAX(CASE WHEN rn_d = 1 THEN hms END) AS last_time
  FROM t GROUP BY user_id
),
d AS (
  SELECT *,
    CAST(string_split(last_time, ':')[1] AS INTEGER) - CAST(string_split(first_time, ':')[1] AS INTEGER) AS dh0,
    CAST(string_split(last_time, ':')[2] AS INTEGER) - CAST(string_split(first_time, ':')[2] AS INTEGER) AS dm0
  FROM fl
)
SELECT user_id, first_time, last_time,
  CAST(((CASE WHEN (CASE WHEN dm0 < 0 THEN dh0 - 1 ELSE dh0 END) < 0
              THEN (CASE WHEN dm0 < 0 THEN dh0 - 1 ELSE dh0 END) + 24
              ELSE (CASE WHEN dm0 < 0 THEN dh0 - 1 ELSE dh0 END) END) * 60
        + (CASE WHEN dm0 < 0 THEN dm0 + 60 ELSE dm0 END)) AS INTEGER) AS dt_mins
FROM d
"""


QUERIES = {
    "azint_1d": azint_1d,
    "azint_2d": azint_2d,
    "azint_qlims": azint_qlims,
    "dezinger_flags": dezinger_flags,
    "monitor_norm": monitor_norm,
    "monitor_qwindow_median": monitor_qwindow_median,
    "polygon_mask_flags": polygon_mask_flags,
    "rebin_nearest": rebin_nearest,
    "reflections_cubic_si": reflections_cubic_si,
    "reflections_triclinic": reflections_triclinic,
    "delay_codec": delay_codec,
    "times_to_info": times_to_info,
}

ORACLES = {
    "azint_1d": _AZINT1D_SQL,
    "azint_2d": _AZINT2D_SQL,
    "azint_qlims": _AZINT_QLIMS_SQL,
    "dezinger_flags": _DEZINGER_SQL,
    "monitor_norm": _MONITOR_SQL,
    "monitor_qwindow_median": _MONITOR_MED_SQL,
    "polygon_mask_flags": _POLYGON_SQL,
    "rebin_nearest": _REBIN_SQL,
    "reflections_cubic_si": _REFLECTIONS_SQL,
    "reflections_triclinic": _TRICLINIC_SQL,
    "delay_codec": _DELAY_SQL,
    "times_to_info": _TIMES_INFO_SQL,
}
