"""The E2 reduction family (trx/dataReduction.py:15-205) on the driver's
generic tables: the as-of reference ladder (J2), the
every-second-reference rule (W2), the scan-point averages with χ²
(A4-A9) and the χ²/MAD/curve outlier filters (F1-F3).

Two experiment shapes carry it:

- Events (scalar shots): ``ts`` order is the acquisition index,
  ``event_type = 'view'`` rows are the laser-off references, ``value``
  is the signal, ``event_type`` is the scan point.
- Curves (the reference's true ``data[n_img, nQ]`` shape): each order
  with ≥4 line items is one 4-point curve (file = o_orderkey, q_idx =
  1..4 by deterministic line ordering, i = l_extendedprice); the scan
  point is o_orderpriority with '1-URGENT' as the reference set;
  acquisition order is the orderkey rank. Per-shot χ² sums over the q
  axis (the ``nansum(axis=-1)`` at :190 divided by nQ).

The oracles build the ladder and the W2 marker from one SQL builder
each (:func:`_asof_sql`, :func:`_w2_sql`), the DuckDB twins of
:func:`reduction.interp_references` and ``reduction._mark_subsample``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import davg, dsum, sql_davg, sql_dstddev_pop, sql_dsum
from trx_spark.operators import filters, reduction
from trx_spark.tables import load_table

# ---------------------------------------------------------------------
# Oracle builders: the reference ladder (J2) and the W2 rule
# ---------------------------------------------------------------------


def _asof_sql(src: str, keys: list[str]) -> str:
    """CTE text ``nb, edges, interp, diffs``: the as-of reference
    ladder over the shots in ``src`` (columns ``keys``, ``idx``,
    ``is_ref``, ``i``), one window partition per ``keys`` value.
    ``interp`` adds ``iref``, ``diffs`` adds ``diff = i - iref``."""
    k = ", ".join(keys)
    return f"""nb AS (
  SELECT *,
    last_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_prev AS prev_ref_idx,
    last_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_prev AS prev_ref_val,
    first_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_next AS next_ref_idx,
    first_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_next AS next_ref_val,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
      OVER (PARTITION BY {k} ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ref_rank
  FROM {src}
  WINDOW
    w_prev AS (PARTITION BY {k} ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY {k} ORDER BY idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
edges AS (
  SELECT {k}, count(*) AS n_refs,
         max(CASE WHEN rn = 1 THEN i END) AS first_ref_val,
         max(CASE WHEN rn = 2 THEN i END) AS second_ref_val,
         max(CASE WHEN rn = nr THEN i END) AS last_ref_val,
         max(CASE WHEN rn = nr - 1 THEN i END) AS secondlast_ref_val
  FROM (SELECT {k}, i,
               row_number() OVER (PARTITION BY {k} ORDER BY idx) AS rn,
               count(*) OVER (PARTITION BY {k}) AS nr
        FROM {src} WHERE is_ref) t
  GROUP BY {k}
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
  FROM nb LEFT JOIN edges e USING ({k})
),
diffs AS (SELECT *, i - iref AS diff FROM interp)"""


def _w2_sql(group: list[str], scan: str) -> str:
    """CTE text ``marked, used`` over ``diffs``: ``use_row`` is false for
    every second shot of a scan point whose shots are the whole
    reference set of their ``group`` (trx/dataReduction.py:177)."""
    g = ", ".join(group)
    s = ", ".join([*group, scan])
    return f"""marked AS (
  SELECT *,
    row_number() OVER (PARTITION BY {s} ORDER BY idx) AS rn,
    min(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY {s}) AS all_ref,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY {s}) AS sp_refs,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY {g}) AS grp_refs
  FROM diffs
),
used AS (SELECT *, (all_ref = 0 OR sp_refs <> grp_refs OR rn % 2 = 1) AS use_row FROM marked)"""


# ---------------------------------------------------------------------
# Shared events→shots base (Spark side) and its oracle CTE (DuckDB side)
#
# Scale design: a "run" is a hash-bucketed shard of the event stream
# (run = event_id % 16) — the synthetic stand-in for the reference's
# one-folder-per-run layout (trx/id9.py doFolder processes one run at a
# time). Every window below partitions by run, so at 100 TB each run is
# an independent window partition and nothing funnels through a single
# task. (The natural-key variant — run = user_id — is exercised by
# asof_interp_per_user; a deliberately-global small window survives in
# relational.slice_skip_first_last for coverage.)
# ---------------------------------------------------------------------

_EVENT_RUNS = 16


def _events_shots(
    spark: SparkSession, sf_dir: str, *, n_runs: int = _EVENT_RUNS
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
  SELECT event_id, CAST(event_id % {_EVENT_RUNS} AS BIGINT) AS run,
         value AS i, (event_type = 'view') AS is_ref, event_type,
         row_number() OVER (PARTITION BY event_id % {_EVENT_RUNS} ORDER BY ts, event_id) AS idx
  FROM events
)"""

_INTERP_CTE = _SHOTS_CTE + ",\n" + _asof_sql("base", ["run"])


# asof_interp_refs / scanpoint_stats / diffs_plus_ref /
# chi2_filter_auto all consume the SAME interpolated diff bank over the
# events shots; memoize its localCheckpoint so one session builds it
# once (same pattern as the curve bank below).
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


_ASOF_USER_SQL = f"""
WITH base AS (
  SELECT event_id, user_id, value AS i, (event_type = 'view') AS is_ref,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
  FROM events
),
{_asof_sql("base", ["user_id"])}
SELECT event_id, user_id, idx, is_ref, i, iref, diff FROM diffs
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


_EVENTS_W2 = _w2_sql(["run"], "event_type")

_SCAN_SQL = f"""
WITH {_INTERP_CTE},
{_EVENTS_W2},
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
{_EVENTS_W2},
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
{_EVENTS_W2},
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
# Two-axis (shot × q) reduction over the curve bank
# ---------------------------------------------------------------------

_NQ = 4
_REF_PRIORITY = "1-URGENT"
_CURVE_RUNS = 8


def _curves(spark: SparkSession, sf_dir: str, *, n_runs: int = _CURVE_RUNS) -> DataFrame:
    """Curve bank sharded into runs (run = o_orderkey % 8): acquisition
    order is per-run, so every window downstream partitions by run and
    no global sort survives at scale. Gate default matches the oracle
    CTE; a deployment sets ``n_runs`` ∝ corpus (curves per run ≈ one
    task's window-sort budget)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    w_line = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    # completeness via a count window over the SAME partition as the
    # rank window — rides the one l_orderkey shuffle instead of a
    # separate groupBy + semi-join (n ≥ NQ ⇔ the capped order has
    # exactly NQ points)
    w_cnt = Window.partitionBy("l_orderkey")
    lines = (
        # explicit projection BEFORE the windows: Catalyst does not
        # prune columns past the dual window frames, so without this
        # the exchange shuffles all 16 lineitem columns to rank 6
        # (measured 2.2 s vs 0.7 s at sf0.1)
        li.select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_quantity",
        )
        .withColumn("q_idx", F.row_number().over(w_line))
        .withColumn("_n", F.count(F.lit(1)).over(w_cnt))
        .filter((F.col("q_idx") <= _NQ) & (F.col("_n") >= _NQ))
        .drop("_n")
    )
    full = lines.filter(F.col("q_idx") == 1).select("l_orderkey")
    w_idx = Window.partitionBy("run").orderBy("o_orderkey")
    keys = (
        orders.join(
            full.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
        )
        .withColumn("run", (F.col("o_orderkey") % n_runs).cast("long"))
        .select(
            "o_orderkey",
            "run",
            F.col("o_orderpriority").alias("scan"),
            F.row_number().over(w_idx).alias("idx"),
        )
    )
    return (
        # keys is one row per curve — proportional to data volume, so no
        # broadcast hint (AQE broadcasts at sf0.1, shuffles at 100 TB;
        # both sides already hash on the same orderkey)
        lines.join(
            keys, lines.l_orderkey == keys.o_orderkey
        )
        .select(
            F.col("l_orderkey").alias("file"),
            "run",
            "q_idx",
            F.col("l_extendedprice").alias("i"),
            "scan",
            F.col("idx").cast("long").alias("idx"),
            (F.col("scan") == _REF_PRIORITY).alias("is_ref"),
        )
    )


_CURVES_CTE = f"""
lines AS (
  SELECT l_orderkey, l_extendedprice AS i,
         row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice, l_quantity) AS q_idx
  FROM lineitem
),
capped AS (SELECT * FROM lines WHERE q_idx <= {_NQ}),
full_orders AS (
  SELECT l_orderkey FROM capped GROUP BY l_orderkey HAVING COUNT(*) = {_NQ}
),
keys AS (
  SELECT o_orderkey, CAST(o_orderkey % {_CURVE_RUNS} AS BIGINT) AS run,
         o_orderpriority AS scan,
         row_number() OVER (PARTITION BY o_orderkey % {_CURVE_RUNS} ORDER BY o_orderkey) AS idx
  FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM full_orders)
),
curves AS (
  SELECT c.l_orderkey AS file, k.run, c.q_idx, c.i, k.scan, CAST(k.idx AS BIGINT) AS idx,
         (k.scan = '{_REF_PRIORITY}') AS is_ref
  FROM capped c
  JOIN full_orders f ON c.l_orderkey = f.l_orderkey
  JOIN keys k ON c.l_orderkey = k.o_orderkey
)"""

_INTERP_2D_CTE = _CURVES_CTE + ",\n" + _asof_sql("curves", ["run", "q_idx"])
_CURVES_W2 = _w2_sql(["run", "q_idx"], "scan")


# Both curve-bank queries consume the SAME interpolated-diff bank; the
# localCheckpoint is memoized so the second query reuses the
# materialized blocks instead of rebuilding the 600 k-row bank (the
# dominant cost of each query).
def _diffs_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        "curve_diff_bank",
        (spark, sf_dir),
        lambda: reduction.time_resolved_diff(
            _curves(spark, sf_dir), group=["run", "q_idx"], idx="idx",
            is_ref="is_ref", value="i",
        ).localCheckpoint(),
    )


def curves_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(scan, q) reduction over the curve bank (A4-A6 on the true
    two-axis layout — q is just another group key)."""
    d = _diffs_2d(spark, sf_dir)
    return reduction.average_scan_points(
        d, scan="scan", group=["run", "q_idx"], idx="idx", is_ref="is_ref", diff="diff",
        exact=True,
    ).select(
        "run",
        "scan",
        F.col("q_idx").cast("long").alias("q_idx"),
        "n_shots",
        "n_used",
        "mean_diff",
        "noise",
        "err_of_mean",
    )


_CURVES_STATS_SQL = f"""
WITH {_INTERP_2D_CTE},
{_CURVES_W2}
SELECT run, scan, q_idx,
  CAST(count(*) AS BIGINT) AS n_shots,
  CAST(SUM(CASE WHEN use_row THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
  {sql_davg('CASE WHEN use_row THEN diff END')} AS mean_diff,
  {sql_dstddev_pop('diff')} AS noise,
  {sql_dstddev_pop('diff')} / SQRT(count(*)) AS err_of_mean
FROM used GROUP BY run, scan, q_idx
"""


def curves_chi2_per_shot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shot chi2_0 with the q-axis sum (A7 at its true grain:
    Σ_q z² / nQ per shot)."""
    d = _diffs_2d(spark, sf_dir)
    return reduction.chi2_0_per_shot_curves(
        d, shot="file", scan="scan", q="q_idx", group=["run"], idx="idx",
        is_ref="is_ref", diff="diff", exact=True,
    )


_CURVES_CHI2_SQL = f"""
WITH {_INTERP_2D_CTE},
{_CURVES_W2},
stats AS (
  SELECT run, scan, q_idx,
    {sql_davg('CASE WHEN use_row THEN diff END')} AS mean_used,
    {sql_dstddev_pop('diff')} AS noise
  FROM used GROUP BY run, scan, q_idx
),
z AS (
  SELECT u.run, u.file, u.scan, u.use_row,
    ((u.diff - s.mean_used)/s.noise) * ((u.diff - s.mean_used)/s.noise) AS z2
  FROM used u JOIN stats s ON u.run = s.run AND u.scan = s.scan AND u.q_idx = s.q_idx
)
SELECT run, file, scan,
  {sql_dsum('z2')} / COUNT(*) AS chi2_0,
  CAST(COUNT(*) AS BIGINT) AS n_q
FROM z WHERE use_row GROUP BY run, file, scan
"""


QUERIES = {
    "asof_interp_refs": asof_interp_refs,
    "asof_interp_per_user": asof_interp_per_user,
    "scanpoint_stats": scanpoint_stats,
    "diffs_plus_ref": diffs_plus_ref,
    "global_curve_stats": global_curve_stats,
    "chi2_filter_auto": chi2_filter_auto,
    "mad_outliers": mad_outliers,
    "filter_outlier_curves": filter_outlier_curves,
    "curves_scan_stats": curves_scan_stats,
    "curves_chi2_per_shot": curves_chi2_per_shot,
}

ORACLES = {
    "asof_interp_refs": _ASOF_SQL,
    "asof_interp_per_user": _ASOF_USER_SQL,
    "scanpoint_stats": _SCAN_SQL,
    "diffs_plus_ref": _DPR_SQL,
    "global_curve_stats": _GLOBAL_STATS_SQL,
    "chi2_filter_auto": _CHI2_FILTER_SQL,
    "mad_outliers": _MAD_SQL,
    "filter_outlier_curves": _OUTLIER_CURVES_SQL,
    "curves_scan_stats": _CURVES_STATS_SQL,
    "curves_chi2_per_shot": _CURVES_CHI2_SQL,
}
