"""Generic relational spine (SURVEY §2.2-2.7) with DuckDB oracles:
aggregation, joins, windows, sorts/limits/slices — the operations the
trx pipeline composes, exercised TPC-H-style on the driver tables.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.exact import sql_davg, sql_dsum
from trx_spark.exact import davg, dsum
from trx_spark.tables import load_table, raw_dtype

# ---------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (A4-A6 analog: groupBy + mean
# /sums + counts per scan point)
# ---------------------------------------------------------------------

_CUTOFF = datetime.datetime(1998, 9, 2, tzinfo=datetime.timezone.utc)
_CUTOFF_NS = int(_CUTOFF.timestamp()) * 1_000_000_000


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship aggregation query (per-scan-point style reduction over the
    lineitem table; SURVEY A4-A6 analog). Filter pushes down to parquet;
    one hash-agg shuffle on the two group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # predicate on the PHYSICAL parquet column so it pushes down to the
    # scan (.explain: PushedFilters shows the bound) in BOTH storage
    # layouts: a TIMESTAMP(NANOS) file reads as raw bigint l_shipdate_ns
    # (compare at ns — bit-exact vs DuckDB's TIMESTAMP_NS), a micros file
    # reads as raw timestamp l_shipdate.
    if raw_dtype(spark, sf_dir, "lineitem", "l_shipdate") == "bigint":
        shipped = F.col("l_shipdate_ns") <= F.lit(_CUTOFF_NS)
    else:
        cutoff = F.lit("1998-09-02 00:00:00").cast(dict(li.dtypes)["l_shipdate"])
        shipped = F.col("l_shipdate") <= cutoff
    return (
        li.filter(shipped)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  {sql_davg('l_discount')} AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------
# J1: multi-way equi-join with broadcast dims (files ⋈ log analog)
# ---------------------------------------------------------------------


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join chain lineitem⋈orders⋈customer⋈nation⋈region (SURVEY
    J1: the log join is a broadcast hash join on a small side).

    Broadcast hints only on the FIXED-size dims (nation 25 rows, region
    5). customer scales with the data volume, so it carries no hint:
    AQE broadcasts it at test scale from its runtime size and shuffles
    it on a 100 TB cluster — hard-hinting it would pin a scale bug."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


_REVENUE_SQL = f"""
SELECT r_name, n_name,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

# ---------------------------------------------------------------------
# P4/P5: semi/anti joins (log⋈files consistency, incremental new-files)
# ---------------------------------------------------------------------


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (SURVEY P5: process-only-new-files is a left_anti against
    the processed set)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


_ANTI_SQL = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def parts_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (SURVEY P4: keep files present in the log)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_brand"
    )


_SEMI_SQL = """
SELECT p_partkey, p_name, p_brand
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""

# ---------------------------------------------------------------------
# O1-O3/P6/P10: ordering, top-k per group, positional slices
# ---------------------------------------------------------------------


def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window (SURVEY O2/P10 analog)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) t
WHERE rk <= 3
"""


def slice_skip_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional slice [skip_first:last] of the ordered shot list
    (SURVEY P6/O3; trx/azav.py:358): skip the first 10 and last 10.

    Deliberately the ONE global-window query kept for coverage: slicing
    an ordered file list is inherently global, and a run's file list is
    small by construction (10³-10⁶ names, never the 100 TB pixel data).
    All headline windows partition by a run key (see trxdomain.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("ts_ns", "event_id")
    n = F.count(F.lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.withColumn("idx", F.row_number().over(w).cast("long"))
        .withColumn("_n", n)
        .filter((F.col("idx") > 10) & (F.col("idx") <= F.col("_n") - 10))
        .select("event_id", "idx", "event_type", "value")
    )


_SLICE_SQL = """
SELECT event_id, idx, event_type, value
FROM (
  SELECT event_id, event_type, value,
         row_number() OVER (ORDER BY ts, event_id) AS idx,
         count(*) OVER () AS n
  FROM events) t
WHERE idx > 10 AND idx <= n - 10
"""

# ---------------------------------------------------------------------
# W3: derivative along the acquisition axis (lead/lag windows)
# ---------------------------------------------------------------------


def value_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np.gradient along the shot axis (SURVEY W3; trx/filters.py:61-62):
    central difference (lead−lag)/2, one-sided at the edges."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    prev = F.lag("value").over(w)
    nxt = F.lead("value").over(w)
    grad = (
        F.when(prev.isNull() & nxt.isNull(), F.lit(None).cast("double"))
        .when(prev.isNull(), nxt - F.col("value"))
        .when(nxt.isNull(), F.col("value") - prev)
        .otherwise((nxt - prev) / 2)
    )
    return ev.withColumn("grad", grad).select("event_id", "user_id", "value", "grad")


_GRADIENT_SQL = """
SELECT event_id, user_id, value,
  CASE
    WHEN prev IS NULL AND nxt IS NULL THEN NULL
    WHEN prev IS NULL THEN nxt - value
    WHEN nxt IS NULL THEN value - prev
    ELSE (nxt - prev) / 2
  END AS grad
FROM (
  SELECT event_id, user_id, value,
         lag(value) OVER w AS prev,
         lead(value) OVER w AS nxt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
"""

# ---------------------------------------------------------------------
# O5: union + distinct scan points (A11)
# ---------------------------------------------------------------------


def distinct_scan_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct sorted scan axis (SURVEY A11; np.unique at
    dataReduction.py:159)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_type").distinct().orderBy("event_type")


_DISTINCT_SQL = "SELECT DISTINCT event_type FROM events ORDER BY event_type"


def supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per supplier with name/nation context (J1 shape on the
    supplier dim — the last driver table not yet exercised). Fact
    aggregates FIRST (map-side partials, one shuffle on s_suppkey),
    then the two dims broadcast onto the tiny aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return (
        rev.join(
            # supplier scales with SF — no hint; AQE picks the strategy
            sup.select("s_suppkey", "s_name", "s_nationkey"),
            rev.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"),
                "revenue", "n_items")
    )


_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
    {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
    CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation, r.revenue, r.n_items
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


# ---------------------------------------------------------------------
# Skew mitigation: salted join + salted two-stage aggregation
# ---------------------------------------------------------------------

_N_SALT = 16


def salted_skewjoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting demo on the most skew-hostile join in the testdata: the
    events fact (only 5 distinct event_type keys — every key is a hot
    key) against a per-type weight dim. ``salted_join`` spreads each hot
    key over 16 (key, salt) reducers; ``salted_agg`` combines ≤16
    partials per key in stage 2. The salt provably cannot change the
    result (fixed-point sums are associative), so the oracle is the
    plain join + GROUP BY — the gate checks the salted plan computes
    exactly the unsalted answer."""
    from trx_spark.exact import dfinal, fint
    from trx_spark.operators.skew import salted_agg, salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("w", F.length("event_type").cast("double"))
    )
    j = salted_join(ev, dim, on="event_type", salt_src="event_id", n_salt=_N_SALT)
    return salted_agg(
        j,
        keys=["event_type"],
        salt_src="event_id",
        n_salt=_N_SALT,
        aggs=[
            F.sum(fint(F.col("value") * F.col("w"))).alias("_p"),
            F.count(F.lit(1)).alias("_c"),
        ],
        finals=[
            dfinal(F.sum("_p")).alias("wsum"),
            F.sum("_c").alias("n"),
        ],
    )


_SALTED_SQL = f"""
SELECT event_type,
  {sql_dsum('value * CAST(length(event_type) AS DOUBLE)')} AS wsum,
  CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------
# TPC-H Q3-shaped shipping priority: 3-way fact join + top-k
# ---------------------------------------------------------------------

_Q3_SEGMENT = "BUILDING"
_Q3_DATE = datetime.datetime(1998, 6, 1, tzinfo=datetime.timezone.utc)
_Q3_DATE_NS = int(_Q3_DATE.timestamp()) * 1_000_000_000
_Q3_K = 10


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer(segment) ⋈ orders(before date) ⋈
    lineitem(shipped after date) → revenue per order → top-10.

    Plan-quality showcase: both date predicates sit on the PHYSICAL
    parquet columns (pushed to the scans in either storage layout), the
    customer keep-list joins without a hint (AQE broadcasts at test
    scale, shuffles at 100 TB), and the top-10 compiles to
    TakeOrderedAndProject — never a global sort."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    if raw_dtype(spark, sf_dir, "orders", "o_orderdate") == "bigint":
        before = F.col("o_orderdate_ns") < F.lit(_Q3_DATE_NS)
    else:
        before = F.col("o_orderdate") < F.lit("1998-06-01 00:00:00").cast(
            dict(orders.dtypes)["o_orderdate"]
        )
    if raw_dtype(spark, sf_dir, "lineitem", "l_shipdate") == "bigint":
        after = F.col("l_shipdate_ns") > F.lit(_Q3_DATE_NS)
    else:
        after = F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast(
            dict(li.dtypes)["l_shipdate"]
        )
    seg_cust = cust.filter(F.col("c_mktsegment") == _Q3_SEGMENT).select("c_custkey")
    open_orders = (
        orders.filter(before)
        .join(seg_cust, orders.o_custkey == seg_cust.c_custkey, "left_semi")
        .select("o_orderkey", "o_orderdate_ns", "o_orderpriority")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(after)
        .select("l_orderkey", rev.alias("rev"))
        .join(open_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate_ns", "o_orderpriority")
        .agg(dsum(F.col("rev")).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(_Q3_K)
        .select("l_orderkey", "o_orderdate_ns", "o_orderpriority", "revenue")
    )


_SHIPPING_SQL = f"""
SELECT l_orderkey,
  epoch_ns(CAST(o_orderdate AS TIMESTAMP_NS)) AS o_orderdate_ns,
  o_orderpriority,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = '{_Q3_SEGMENT}'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate_ns, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT {_Q3_K}
"""


# ---------------------------------------------------------------------
# Market-basket association rules: co-purchase support + lift
# ---------------------------------------------------------------------

_BASKET_MIN_COOCCUR = 2   # emit pairs co-ordered at least this often
_BASKET_MAX_ITEMS = 64    # drop pathological baskets (quadratic guard)


def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rules mining over order baskets (the classic
    support/lift co-occurrence analysis): for every part pair ordered
    together in ≥ _BASKET_MIN_COOCCUR orders, the pair count, each
    part's order count, the pair support, and the lift
    n_ab·N / (n_a·n_b) (>1 ⇒ the parts co-occur more than chance).

    Scale shape: baskets collapse to distinct (order, part) first; the
    pair generation is a SELF-equi-join on the order key, quadratic
    only in basket size, which is bounded — baskets larger than
    _BASKET_MAX_ITEMS items are dropped up front (the LSH bucket-cap
    discipline; TPC-H tops out at ~13). Per-part counts and the order
    total are one keyed agg + one scalar, broadcast into the final
    annotation join. All ratios are IEEE double ops on exact integer
    counts — bit-identical in both engines."""
    from trx_spark.queries import graphq

    # the capped-items spine and the pair self-join are the shared
    # memoized stages in graphq (the co-purchase graph reads the same
    # checkpoints); the cap constants must agree for that sharing to
    # be sound — checked with a real exception, not assert, so a
    # future divergence fails loudly even under `python -O`
    if _BASKET_MAX_ITEMS != graphq._PR_MAX_BASKET:
        raise ValueError(
            "copurchase_lift basket cap diverged from the shared "
            f"graphq spine: {_BASKET_MAX_ITEMS} != {graphq._PR_MAX_BASKET}"
        )
    items = graphq.capped_basket_items(spark, sf_dir)
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    part_counts = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    pairs = (
        graphq.copurchase_pair_counts(spark, sf_dir)
        .select(
            F.col("src").alias("part_a"),
            F.col("dst").alias("part_b"),
            "n_ab",
        )
        .filter(F.col("n_ab") >= _BASKET_MIN_COOCCUR)
    )
    na = part_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    nb = part_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.col("n_ab").cast("double") / F.col("n_orders").cast("double")
            ).alias("support"),
            (
                (F.col("n_ab").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


_BASKET_SQL = f"""
WITH items0 AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sized AS (
  SELECT l_orderkey FROM items0 GROUP BY l_orderkey
  HAVING COUNT(*) <= {_BASKET_MAX_ITEMS}
),
items AS (
  SELECT i.l_orderkey, i.l_partkey FROM items0 i JOIN sized USING (l_orderkey)
),
n_orders AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
),
part_counts AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part
  FROM items GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BASKET_MIN_COOCCUR}
)
SELECT p.part_a, p.part_b, p.n_ab,
       ca.n_part AS n_a, cb.n_part AS n_b,
       CAST(p.n_ab AS DOUBLE) / CAST(o.n_orders AS DOUBLE) AS support,
       (CAST(p.n_ab AS DOUBLE) * CAST(o.n_orders AS DOUBLE))
         / (CAST(ca.n_part AS DOUBLE) * CAST(cb.n_part AS DOUBLE)) AS lift
FROM pairs p
JOIN part_counts ca ON p.part_a = ca.l_partkey
JOIN part_counts cb ON p.part_b = cb.l_partkey
CROSS JOIN n_orders o
"""


QUERIES = {
    "pricing_summary": pricing_summary,
    "copurchase_lift": copurchase_lift,
    "supplier_revenue": supplier_revenue,
    "salted_skewjoin_stats": salted_skewjoin_stats,
    "revenue_by_nation": revenue_by_nation,
    "customers_without_orders": customers_without_orders,
    "parts_with_orders": parts_with_orders,
    "topk_orders_per_customer": topk_orders_per_customer,
    "slice_skip_first_last": slice_skip_first_last,
    "value_gradient": value_gradient,
    "distinct_scan_points": distinct_scan_points,
    "shipping_priority": shipping_priority,
}

ORACLES = {
    "pricing_summary": _PRICING_SQL,
    "copurchase_lift": _BASKET_SQL,
    "supplier_revenue": _SUPPLIER_SQL,
    "salted_skewjoin_stats": _SALTED_SQL,
    "revenue_by_nation": _REVENUE_SQL,
    "customers_without_orders": _ANTI_SQL,
    "parts_with_orders": _SEMI_SQL,
    "topk_orders_per_customer": _TOPK_SQL,
    "slice_skip_first_last": _SLICE_SQL,
    "value_gradient": _GRADIENT_SQL,
    "distinct_scan_points": _DISTINCT_SQL,
    "shipping_priority": _SHIPPING_SQL,
}
