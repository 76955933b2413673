"""Two-axis (shot × q) reduction — the reference's true data shape
(curves ``data[n_img, nQ]``): per-(scan, q) statistics plus per-shot
chi2 summed over the q axis (trx/dataReduction.py:187-193, the
``nansum(axis=-1)`` at :190 divided by nQ).

Mapping: each order with ≥4 line items is one 4-point curve
(file = o_orderkey, q_idx = 1..4 by deterministic line ordering,
i = l_extendedprice); the scan point is o_orderpriority with
'1-URGENT' as the reference set; acquisition order is the orderkey
rank. Rectangularity (every shot has exactly nQ=4 points) mirrors the
reference's dense arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import sql_davg, sql_dstddev_pop, sql_dsum
from trx_spark.operators import reduction
from trx_spark.tables import load_table

_NQ = 4
_REF_PRIORITY = "1-URGENT"
_N_RUNS = 8


def _curves(spark: SparkSession, sf_dir: str, *, n_runs: int = _N_RUNS) -> DataFrame:
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
  SELECT o_orderkey, CAST(o_orderkey % {_N_RUNS} AS BIGINT) AS run,
         o_orderpriority AS scan,
         row_number() OVER (PARTITION BY o_orderkey % {_N_RUNS} ORDER BY o_orderkey) AS idx
  FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM full_orders)
),
curves AS (
  SELECT c.l_orderkey AS file, k.run, c.q_idx, c.i, k.scan, CAST(k.idx AS BIGINT) AS idx,
         (k.scan = '{_REF_PRIORITY}') AS is_ref
  FROM capped c
  JOIN full_orders f ON c.l_orderkey = f.l_orderkey
  JOIN keys k ON c.l_orderkey = k.o_orderkey
)"""

_INTERP_2D_CTE = (
    _CURVES_CTE
    + """,
nb AS (
  SELECT *,
    last_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_prev AS prev_ref_idx,
    last_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_prev AS prev_ref_val,
    first_value(CASE WHEN is_ref THEN idx END IGNORE NULLS) OVER w_next AS next_ref_idx,
    first_value(CASE WHEN is_ref THEN i END IGNORE NULLS) OVER w_next AS next_ref_val,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
      OVER (PARTITION BY run, q_idx ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ref_rank
  FROM curves
  WINDOW
    w_prev AS (PARTITION BY run, q_idx ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY run, q_idx ORDER BY idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
edges AS (
  SELECT run, q_idx, count(*) AS n_refs,
         max(CASE WHEN rn = 1 THEN i END) AS first_ref_val,
         max(CASE WHEN rn = 2 THEN i END) AS second_ref_val,
         max(CASE WHEN rn = nr THEN i END) AS last_ref_val,
         max(CASE WHEN rn = nr - 1 THEN i END) AS secondlast_ref_val
  FROM (SELECT run, q_idx, i,
               row_number() OVER (PARTITION BY run, q_idx ORDER BY idx) AS rn,
               count(*) OVER (PARTITION BY run, q_idx) AS nr
        FROM curves WHERE is_ref) t
  GROUP BY run, q_idx
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
  FROM nb LEFT JOIN edges e USING (run, q_idx)
),
diffs AS (SELECT *, i - iref AS diff FROM interp)"""
)


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
marked AS (
  SELECT *,
    row_number() OVER (PARTITION BY run, scan, q_idx ORDER BY idx) AS rn,
    min(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, scan, q_idx) AS all_ref,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, scan, q_idx) AS sp_refs,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, q_idx) AS grp_refs
  FROM diffs
),
used AS (SELECT *, (all_ref = 0 OR sp_refs <> grp_refs OR rn % 2 = 1) AS use_row FROM marked)
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
marked AS (
  SELECT *,
    row_number() OVER (PARTITION BY run, scan, q_idx ORDER BY idx) AS rn,
    min(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, scan, q_idx) AS all_ref,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, scan, q_idx) AS sp_refs,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (PARTITION BY run, q_idx) AS grp_refs
  FROM diffs
),
used AS (SELECT *, (all_ref = 0 OR sp_refs <> grp_refs OR rn % 2 = 1) AS use_row FROM marked),
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
    "curves_scan_stats": curves_scan_stats,
    "curves_chi2_per_shot": curves_chi2_per_shot,
}

ORACLES = {
    "curves_scan_stats": _CURVES_STATS_SQL,
    "curves_chi2_per_shot": _CURVES_CHI2_SQL,
}
