"""Second wave of trx-domain coverage: the scalable per-group as-of
variant, monitor q-window median, global/reference averages, rebin/
nearest snapping, curve-level outlier filter, triclinic reflections,
rollup and running-window coverage, sessionization.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.exact import davg, dsum, sql_davg, sql_dsum, sql_wdsum, wdsum
from trx_spark.operators import azav, cell, reduction
from trx_spark.tables import load_table

# ---------------------------------------------------------------------
# J2 per-group: the 100 TB layout (one window partition per run)
# ---------------------------------------------------------------------


def asof_interp_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference interpolation partitioned by user (run): the scale
    path — every group is an independent window partition, so the
    operator parallelizes across runs with no global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    shots = ev.withColumn("idx", F.row_number().over(w).cast("long")).select(
        "event_id",
        "user_id",
        F.col("value").alias("i"),
        (F.col("event_type") == "view").alias("is_ref"),
        "idx",
    )
    out = reduction.time_resolved_diff(
        shots, group=["user_id"], idx="idx", is_ref="is_ref", value="i"
    )
    return out.select("event_id", "user_id", "idx", "is_ref", "i", "iref", "diff")


_ASOF_USER_SQL = """
WITH base AS (
  SELECT event_id, user_id, value AS i, (event_type = 'view') AS is_ref,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
  FROM events
),
nb AS (
  SELECT *,
    last_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_prev AS prev_ref_idx,
    last_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_prev AS prev_ref_val,
    first_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_next AS next_ref_idx,
    first_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_next AS next_ref_val,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ref_rank
  FROM base
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY user_id ORDER BY idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
edges AS (
  SELECT user_id, count(*) AS n_refs,
         max(CASE WHEN rn = 1 THEN i END) AS first_ref_val,
         max(CASE WHEN rn = 2 THEN i END) AS second_ref_val,
         max(CASE WHEN rn = nr THEN i END) AS last_ref_val,
         max(CASE WHEN rn = nr - 1 THEN i END) AS secondlast_ref_val
  FROM (SELECT user_id, i,
               row_number() OVER (PARTITION BY user_id ORDER BY idx) AS rn,
               count(*) OVER (PARTITION BY user_id) AS nr
        FROM base WHERE is_ref) t
  GROUP BY user_id
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
  FROM nb LEFT JOIN edges e USING (user_id)
)
SELECT event_id, user_id, idx, is_ref, i, iref, i - iref AS diff FROM interp
"""

# ---------------------------------------------------------------------
# A10 (median, q-window flavor — dataReduction.py:236-237)
# ---------------------------------------------------------------------

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
# A8/A9: global average/median + reference average
# ---------------------------------------------------------------------


def global_curve_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global mean/median over all shots + reference-only mean
    (SURVEY A8/A9; dataReduction.py:126-127,149)."""
    ev = load_table(spark, sf_dir, "events")
    is_ref = F.col("event_type") == "view"
    return ev.agg(
        davg(F.col("value")).alias("average"),
        F.expr("percentile(value, 0.5)").alias("median"),
        davg(F.when(is_ref, F.col("value"))).alias("ref_average"),
        F.count(F.lit(1)).alias("n_shots"),
    )


_GLOBAL_STATS_SQL = f"""
SELECT
  {sql_davg('value')} AS average,
  quantile_cont(value, 0.5)::DOUBLE AS median,
  {sql_davg("CASE WHEN event_type = 'view' THEN value END")} AS ref_average,
  CAST(COUNT(*) AS BIGINT) AS n_shots
FROM events
"""

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
# F3: curve-level outlier filter
# ---------------------------------------------------------------------


def filter_outlier_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-curve robust chi2 (SURVEY F3; trx/filters.py:83-101): each
    user is a curve; global median/MAD; flag curves with mean z² ≥ 2.

    Global scalars are two-pass exact-percentile AGGREGATES broadcast
    back (operators/filters.py:global_mad_scalars) — no
    single-partition window; the event rows never funnel through one
    task. Same expression tree → bit-identical to the window form."""
    from trx_spark.operators.filters import global_mad_scalars

    ev = load_table(spark, sf_dir, "events")
    stats = global_mad_scalars(ev, value="value", median_out="_med", mad_out="_mad")
    df = ev.select("user_id", "value").crossJoin(F.broadcast(stats))
    z = (F.col("value") - F.col("_med")) / F.col("_mad")
    df = df.withColumn("_z2", z * z)
    per_curve = df.groupBy("user_id").agg(
        (dsum(F.col("_z2")) / F.count("_z2")).alias("curve_chi2"),
        F.count(F.lit(1)).alias("n_shots"),
    )
    return per_curve.withColumn("kept", F.col("curve_chi2") < 2.0)


_OUTLIER_CURVES_SQL = f"""
WITH g AS (
  SELECT user_id, value,
    quantile_cont(value, 0.5) OVER () AS med
  FROM events
),
z AS (
  SELECT user_id,
    ((value - med) / (quantile_cont(ABS(value - med), 0.5) OVER () / 0.6744897501960817))
    * ((value - med) / (quantile_cont(ABS(value - med), 0.5) OVER () / 0.6744897501960817)) AS z2
  FROM g
)
SELECT user_id,
  {sql_dsum('z2')} / COUNT(z2) AS curve_chi2,
  CAST(COUNT(*) AS BIGINT) AS n_shots,
  ({sql_dsum('z2')} / COUNT(z2)) < 2.0 AS kept
FROM z GROUP BY user_id
"""

# ---------------------------------------------------------------------
# J4 triclinic: β-Ti3O5-like cell, raw-double q grouping
# ---------------------------------------------------------------------

_TI = cell.Triclinic(a=9.83776, b=3.78674, c=9.97069, beta=91.2567)
_TWO_PI = 2 * math.pi


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
# Rollup + running windows + pivot (relational coverage)
# ---------------------------------------------------------------------


def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with exact sums — subtotal
    rows carry NULL keys in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer totals ordered by order date (O5+W
    coverage; the concat-then-reaggregate pattern of azav.py:390-393
    expressed as a running window)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate_ns", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        wdsum(F.col("o_totalprice"), cum).alias("running_total"),
    )


_RUNNING_FRAME = (
    "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
)
_RUNNING_SQL = f"""
SELECT o_custkey, o_orderkey,
  CAST(row_number() OVER w AS INTEGER) AS order_seq,
  {sql_wdsum('o_totalprice', _RUNNING_FRAME)} AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def events_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts (pivot surface) via conditional
    aggregation — identical shape on the oracle."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long").alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return ev.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n_total"))


_PIVOT_SQL = """
SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  CAST(COUNT(*) AS BIGINT) AS n_total
FROM events GROUP BY user_id
"""

# ---------------------------------------------------------------------
# Sessionization (streaming-adjacent batch op: lag + gap + cumsum)
# ---------------------------------------------------------------------

_GAP_NS = 30 * 60 * 1_000_000_000  # 30 min


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gap = F.col("ts_ns") - F.lag("ts_ns").over(w)
    new_sess = F.when(gap.isNull() | (gap > _GAP_NS), 1).otherwise(0)
    df = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return df.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("min(ts_ns DIV 1000)").alias("t_start_us"),
        F.expr("max(ts_ns DIV 1000)").alias("t_end_us"),
        dsum(F.col("value")).alias("sum_value"),
    )


_SESSION_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS t_us,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_NS // 1000}
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  MIN(t_us) AS t_start_us,
  MAX(t_us) AS t_end_us,
  {sql_dsum('value')} AS sum_value
FROM s GROUP BY user_id, session_id
"""



# ---------------------------------------------------------------------
# P1: q-limits projection of the integrated curves
# ---------------------------------------------------------------------

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
        q_min=900.0,
        q_max=105000.0,
        n_bins=32,
        exact=True,
    )
    return out.filter((F.col("q") >= _QLIM[0]) & (F.col("q") <= _QLIM[1])).select(
        "l_suppkey", "q_bin", "i", "err", "n_pix", "q"
    )


_AZINT_QLIMS_SQL = f"""
WITH px AS (
  SELECT l_suppkey,
    CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 900.0) / 3253.125), 0), 31) AS INTEGER) AS q_bin,
    l_quantity - 0.0 AS sig,
    1.0 AS w
  FROM lineitem),
curves AS (
  SELECT l_suppkey, q_bin,
    {sql_dsum('sig * w')} / {sql_dsum('w')} AS i,
    SQRT({sql_dsum('sig')}) / COUNT(*) AS err,
    CAST(COUNT(*) AS BIGINT) AS n_pix,
    CAST(900.0 AS DOUBLE) + (q_bin + CAST(0.5 AS DOUBLE)) * CAST(3253.125 AS DOUBLE) AS q
  FROM px GROUP BY l_suppkey, q_bin)
SELECT * FROM curves WHERE q >= {_QLIM[0]!r} AND q <= {_QLIM[1]!r}
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


QUERIES = {
    "asof_interp_per_user": asof_interp_per_user,
    "polygon_mask_flags": polygon_mask_flags,
    "monitor_qwindow_median": monitor_qwindow_median,
    "global_curve_stats": global_curve_stats,
    "rebin_nearest": rebin_nearest,
    "filter_outlier_curves": filter_outlier_curves,
    "reflections_triclinic": reflections_triclinic,
    "pricing_rollup": pricing_rollup,
    "running_order_totals": running_order_totals,
    "events_pivot_counts": events_pivot_counts,
    "sessionize_events": sessionize_events,
    "azint_qlims": azint_qlims,
    "times_to_info": times_to_info,
}

ORACLES = {
    "asof_interp_per_user": _ASOF_USER_SQL,
    "polygon_mask_flags": _POLYGON_SQL,
    "monitor_qwindow_median": _MONITOR_MED_SQL,
    "global_curve_stats": _GLOBAL_STATS_SQL,
    "rebin_nearest": _REBIN_SQL,
    "filter_outlier_curves": _OUTLIER_CURVES_SQL,
    "reflections_triclinic": _TRICLINIC_SQL,
    "pricing_rollup": _ROLLUP_SQL,
    "running_order_totals": _RUNNING_SQL,
    "events_pivot_counts": _PIVOT_SQL,
    "sessionize_events": _SESSION_SQL,
    "azint_qlims": _AZINT_QLIMS_SQL,
    "times_to_info": _TIMES_INFO_SQL,
}
