"""Relational coverage (SURVEY §2.2-2.7) with DuckDB oracles: the
aggregation, join, window, sort/limit/slice, rollup and
sessionization shapes the trx pipeline composes, exercised
TPC-H-style on the driver tables (Q1-Q4, Q6-Q10, Q12-Q14, Q16-Q19,
Q21, Q22). Columns the synthetic schema lacks (l_commitdate,
l_shipmode, c_phone, partsupp) are substituted with equivalents that
keep the plan shape (documented per query).

Scale design notes (local[32] tests correctness; plans target a
1000-executor cluster):

- Fixed-size dims (nation, region) carry explicit broadcast hints;
  customer/supplier joins scale with data and carry none (AQE
  broadcasts them at test scale, shuffles at 100 TB).
- ``volume_shipping``: nation joins twice under two aliases; the
  nation-pair filter applies to the broadcast dims' output, so
  Catalyst pushes it into the join; the only corpus-scale shuffles are
  the lineitem⋈orders equi-join and the final 3-key groupBy.
- ``national_market_share`` / ``promo_revenue_share``: the share is a
  division of two fixed-point BIGINT sums computed in the SAME
  aggregate pass (a conditional dsum next to the unconditional one) —
  never two scans, never a self-join of the aggregate against itself.
- ``cheapest_supplier_per_part``: the Q2 correlated subquery
  re-expressed as agg + join-back: one groupBy(partkey) computes the
  min unit price, an equi-join on (partkey, unit=min) recovers the
  achieving rows, and a second tiny agg breaks ties deterministically
  (min suppkey). Both shuffles are on partkey, so AQE coalesces them
  onto one exchange; no window over the full lineitem table, no
  cross join.
- ``order_priority_check``: the EXISTS is a LEFT SEMI equi-join on
  orderkey — the late-line predicate is pushed below the join, so the
  semi-join's build side is only the late lines, and the orderdate
  window prunes the probe side at the scan.
- ``linestatus_priority``: one scan of each table, one equi-join, and
  the high/low split is a conditional SUM in the SAME aggregate pass.
- ``customer_order_distribution``: the Q13 double-aggregate. The first
  groupBy(custkey) runs on the orders side BEFORE the join, so the
  left-outer join against customer is agg-sized, and COALESCE supplies
  the zero bucket.
- ``sales_opportunity_by_nation``: Q22's scalar average is ONE 1-row
  broadcast cross join, the "no orders" screen is a LEFT ANTI
  equi-join.

Money columns use the repo-wide fixed-point contract
(:mod:`trx_spark.exact`): sums are exact BIGINTs at 1e6 scale, ratios
are one double division of two such BIGINTs — bit-identical in DuckDB.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.exact import davg, dsum, sql_davg, sql_dsum, sql_wdsum, wdsum
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

# ---------------------------------------------------------------------
# TPC-H Q7/Q8: two-nation revenue flows and market share
# ---------------------------------------------------------------------

_NATION_A = "NATION_1"
_NATION_B = "NATION_2"
_SHARE_REGION = "ASIA"
_SHARE_NATION = "NATION_3"

# ---------------------------------------------------------------------
# Q7: volume shipping between two nations by ship year
# ---------------------------------------------------------------------


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue flowing between two nations (supplier side vs customer
    side, both directions) per ship year — TPC-H Q7's shape."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_cust = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    n_supp = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == _NATION_A) & (F.col("cust_nation") == _NATION_B)
    ) | ((F.col("supp_nation") == _NATION_B) & (F.col("cust_nation") == _NATION_A))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("s_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


_VOLUME_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
  {sql_dsum('volume')} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM (
  SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE (n2.n_name = '{_NATION_A}' AND n1.n_name = '{_NATION_B}')
     OR (n2.n_name = '{_NATION_B}' AND n1.n_name = '{_NATION_A}')
)
GROUP BY supp_nation, cust_nation, l_year
"""

# ---------------------------------------------------------------------
# Q8: national market share within a region by ship year
# ---------------------------------------------------------------------


def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ship year: the share of one region's revenue supplied by one
    nation — TPC-H Q8's ratio, as one conditional dsum over the same
    aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_rev = F.when(F.col("supp_nation") == _SHARE_NATION, rev).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("sn_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == _SHARE_REGION)),
            F.col("cr_key") == F.col("r_regionkey"),
        )
        .groupBy(F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            dsum(nat_rev).alias("nation_rev_fp"),
            dsum(rev).alias("total_rev_fp"),
        )
        .select(
            "l_year",
            "nation_rev_fp",
            "total_rev_fp",
            (
                F.col("nation_rev_fp").cast("double")
                / F.col("total_rev_fp").cast("double")
            ).alias("mkt_share"),
        )
    )


_SHARE_SQL = f"""
WITH base AS (
  SELECT year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume,
         CASE WHEN n2.n_name = '{_SHARE_NATION}'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS nat_volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  WHERE r_name = '{_SHARE_REGION}'
)
SELECT l_year,
  {sql_dsum('nat_volume')} AS nation_rev_fp,
  {sql_dsum('volume')} AS total_rev_fp,
  CAST({sql_dsum('nat_volume')} AS DOUBLE)
    / CAST({sql_dsum('volume')} AS DOUBLE) AS mkt_share
FROM base GROUP BY l_year
"""

# ---------------------------------------------------------------------
# Q14: promo revenue share by ship year
# ---------------------------------------------------------------------


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ship year: revenue share of PROMO-type parts — TPC-H Q14
    rolled up by year instead of one month."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            dsum(promo).alias("promo_rev_fp"),
            dsum(rev).alias("total_rev_fp"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "l_year",
            "promo_rev_fp",
            "total_rev_fp",
            "n_lines",
            (
                F.col("promo_rev_fp").cast("double")
                / F.col("total_rev_fp").cast("double")
            ).alias("promo_share"),
        )
    )


_PROMO_SQL = f"""
SELECT year(l_shipdate) AS l_year,
  {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
    AS promo_rev_fp,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev_fp,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST({sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS DOUBLE)
    / CAST({sql_dsum('l_extendedprice * (1 - l_discount)')} AS DOUBLE)
    AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY year(l_shipdate)
"""

# ---------------------------------------------------------------------
# Q2 shape: cheapest supplier per part (correlated argmin)
# ---------------------------------------------------------------------


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part: the minimum observed unit price across lineitems and
    the supplier achieving it (min suppkey among ties) — the Q2
    correlated-subquery shape as agg + join-back."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    mins = li.groupBy("l_partkey").agg(
        F.min("unit_price").alias("min_unit_price")
    ).withColumnRenamed("l_partkey", "m_partkey")
    best = (
        li.join(
            mins,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("unit_price") == F.col("min_unit_price")),
        )
        .groupBy(F.col("l_partkey").alias("p_partkey"), "min_unit_price")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return best.join(supp, best.best_suppkey == supp.s_suppkey).select(
        "p_partkey", "min_unit_price", "best_suppkey", "s_name"
    )


_CHEAPEST_SQL = """
WITH unit AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem
),
mins AS (
  SELECT l_partkey, MIN(unit_price) AS min_unit_price FROM unit GROUP BY l_partkey
),
best AS (
  SELECT unit.l_partkey AS p_partkey, min_unit_price,
         MIN(l_suppkey) AS best_suppkey
  FROM unit JOIN mins
    ON unit.l_partkey = mins.l_partkey AND unit.unit_price = mins.min_unit_price
  GROUP BY unit.l_partkey, min_unit_price
)
SELECT p_partkey, min_unit_price, best_suppkey, s_name
FROM best JOIN supplier ON best_suppkey = s_suppkey
"""

# ---------------------------------------------------------------------
# TPC-H Q4/Q6/Q9/Q10/Q12/Q13/Q16-Q19/Q21/Q22 shapes
# ---------------------------------------------------------------------

# Q4 window: one quarter of order dates; a line is "late" when it ships
# more than _LATE_DAYS after the order date (the schema has no
# l_commitdate/l_receiptdate — shipdate lag keeps the EXISTS shape).
_Q4_LO, _Q4_HI = "1995-01-01", "1995-04-01"
_LATE_DAYS = 75

_HIGH_PRio = ("1-URGENT", "2-HIGH")


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per order priority, how many orders in one
    quarter have at least one late line (EXISTS → left-semi join)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q4_LO))
        & (F.col("o_orderdate") < F.lit(_Q4_HI))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_Q4_SQL = f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_Q4_LO}'
  AND o_orderdate < TIMESTAMP '{_Q4_HI}'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
  )
GROUP BY o_orderpriority
"""


def linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per line status (standing in for l_shipmode),
    how many 1995-shipped lines belong to high- vs low-priority orders
    — both counts in one aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(*_HIGH_PRio)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, F.lit(1)).otherwise(F.lit(0))).alias(
                "high_line_count"
            ),
            F.sum(F.when(high, F.lit(0)).otherwise(F.lit(1))).alias(
                "low_line_count"
            ),
        )
    )


_Q12_SQL = f"""
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_linestatus
"""


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the histogram of per-customer open-order
    counts, zero bucket included (aggregate-before-join + left outer +
    COALESCE + second aggregate)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left_outer")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT COALESCE(o.c_count, 0) AS c_count
  FROM customer
  LEFT JOIN (
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c_count
    FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_custkey
  ) o ON c_custkey = o.o_custkey
)
GROUP BY c_count
"""


def sales_opportunity_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per nation, count and total balance of
    above-average-balance customers who have never ordered (scalar
    subquery → 1-row broadcast; NOT EXISTS → left-anti join). The
    schema has no c_phone, so the country grouping is the real nation
    dim instead of phone-prefix country codes."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("nk"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


_Q22_SQL = f"""
WITH avg_bal AS (
  SELECT {sql_dsum('c_acctbal')} / CAST(COUNT(*) AS BIGINT) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name,
  CAST(COUNT(*) AS BIGINT) AS numcust,
  {sql_dsum('c_acctbal')} AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg_bal FROM avg_bal)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
"""

_Q10_LO, _Q10_HI = "1995-01-01", "1995-07-01"
_Q10_K = 20


def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the top customers by revenue lost to returned
    lineitems in a half-year window — join through orders to customer,
    broadcast nation name, TakeOrderedAndProject top-k (per-partition
    top-k, never a global sort). Ordering key is the exact fixed-point
    revenue (bit-identical across engines); ties break on custkey."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q10_LO))
        & (F.col("o_orderdate") < F.lit(_Q10_HI))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("nk"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(_Q10_K)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{_Q10_LO}'
  AND o_orderdate < TIMESTAMP '{_Q10_HI}'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT {_Q10_K}
"""

_Q17_BRANDS = ("Brand#1", "Brand#2", "Brand#3")
_Q17_FRAC = 0.2


def small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per brand, revenue and line count of lineitems
    whose quantity is below ``0.2 × avg quantity for that part`` — the
    correlated scalar subquery re-expressed as an aggregate + join-back
    on partkey. The per-part average is one exact-sum/count division
    and the 0.2× threshold one IEEE multiply — identical expression
    trees on both engines, so the < comparison is bit-portable."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(*_Q17_BRANDS)
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.lit(_Q17_FRAC) * F.col("avg_qty"))
        .groupBy("p_brand")
        .agg(
            dsum(F.col("l_extendedprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q17_SQL = f"""
WITH per_part AS (
  SELECT l_partkey AS pk,
    {sql_dsum('l_quantity')} / CAST(COUNT(*) AS BIGINT) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
  {sql_dsum('l_extendedprice')} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN per_part ON l_partkey = pk
WHERE p_brand IN {_Q17_BRANDS!r}
  AND l_quantity < CAST({_Q17_FRAC} AS DOUBLE) * avg_qty
GROUP BY p_brand
"""

def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the what-if revenue of discounts in a band —
    ONE scan, every predicate pushed to parquet (`PushedFilters` shows
    all three), one 1-row aggregate. The canonical
    scan-efficiency probe: no join, no window, nothing to shuffle but
    the partial sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_Q6_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
"""

_Q21_K = 10


def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier in a
    multi-supplier order.  The double-correlated EXISTS / NOT EXISTS is
    algebraically a pair of per-order COUNTS: a late (order, supplier)
    row survives iff the order has ≥ 2 distinct participating suppliers
    (EXISTS another participant) and exactly 1 distinct late supplier
    (NOT EXISTS another late one) — in which case that sole supplier is
    min(l_suppkey) over the order's late rows.  So two partial-
    aggregatable countDistincts replace the former distinct + left-semi
    + left-anti chain (guide §2.4): both aggregates hash-partition by
    l_orderkey, the sole⋈n_supp join reuses that partitioning with no
    further Exchange, and the non-equi (suppkey != suppkey) join
    conditions disappear entirely.  Same (order, supplier) multiset —
    the DuckDB oracle keeps the original EXISTS form.  "Late" is the
    Q4 shipdate-lag predicate (the schema has no commit/receipt
    dates).  Top-k suppliers by blocked-order count, tie-broken on
    name."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    sole_late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_LATE_DAYS} DAYS")
        )
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_late"),
            F.min("l_suppkey").alias("sk"),
        )
        .filter(F.col("n_late") == 1)
    )
    multi_supp = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") >= 2)
    )
    blocked = sole_late.join(multi_supp, "l_orderkey", "left_semi")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blocked.join(supp, F.col("sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(_Q21_K)
    )


_Q21_SQL = f"""
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
),
participants AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
    SELECT 1 FROM participants p
    WHERE p.l_orderkey = l1.l_orderkey AND p.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT {_Q21_K}
"""

def disjunctive_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides (brand × size-band × quantity-band). The part-side
    conjuncts reach the part scan and the common quantity bound reaches
    the lineitem scan (Catalyst factors the disjunction's common
    terms); the join is a plain partkey equi-join with the residual
    disjunction evaluated post-join. One row out."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(part, li.l_partkey == part.p_partkey)
    pred = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1.0, 11.0)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10.0, 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20.0, 30.0)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(pred).agg(
        dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


_Q19_SQL = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""


def parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, size),
    excluding "complained-about" suppliers (negative account balance —
    the schema has no comment column) via a left-anti join BEFORE the
    distinct count, and excluding one brand at the part scan. The
    count-distinct funnels through the (brand, size, suppkey) distinct
    — partial-aggregatable — never a global set."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") != "Brand#5"
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_size,
  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY p_brand, p_size
"""

_Q9_COST_FRAC = 0.8  # synthetic supply cost: 0.8 × retail price


def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per ship year over
    the 4-way lineitem⋈part⋈supplier⋈nation join. The schema has no
    partsupp, so supply cost is the deterministic 0.8 × p_retailprice
    (one IEEE multiply — identical trees). Profit folds to fixed-point
    BIGINTs in the same aggregate pass; nation is the explicit 25-row
    broadcast; the only corpus-scale shuffles are the two fact
    equi-joins and the final 2-key groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("a")
    ).select("p_partkey", "p_retailprice")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        _Q9_COST_FRAC
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("nk"))
        .groupBy(
            "n_name", F.year("l_shipdate").cast("long").alias("o_year")
        )
        .agg(dsum(profit).alias("sum_profit"), F.count(F.lit(1)).alias("n_lines"))
    )


_Q9_SQL = f"""
SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS o_year,
  {sql_dsum(f'l_extendedprice * (1 - l_discount) - {_Q9_COST_FRAC} * p_retailprice * l_quantity')}
    AS sum_profit,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%a%'
GROUP BY n_name, year(l_shipdate)
"""

_Q18_MIN_QTY = 150.0


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold (the HAVING-filtered IN-subquery), joined back to the
    customer. The big-order set is an aggregate (partial-combined on
    orderkey) filtered BEFORE any join, so the customer join input is
    threshold-sized, not corpus-sized."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "total_qty", "o_totalprice"
        )
    )


_Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, total_qty, o_totalprice
FROM (
  SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  ) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE total_qty > {_Q18_MIN_QTY}
"""


# ---------------------------------------------------------------------
# Rollup + running windows + pivot
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
    "volume_shipping": volume_shipping,
    "national_market_share": national_market_share,
    "promo_revenue_share": promo_revenue_share,
    "cheapest_supplier_per_part": cheapest_supplier_per_part,
    "order_priority_check": order_priority_check,
    "linestatus_priority": linestatus_priority,
    "customer_order_distribution": customer_order_distribution,
    "sales_opportunity_by_nation": sales_opportunity_by_nation,
    "returned_item_revenue": returned_item_revenue,
    "small_qty_order_revenue": small_qty_order_revenue,
    "forecast_revenue_change": forecast_revenue_change,
    "suppliers_kept_waiting": suppliers_kept_waiting,
    "disjunctive_discount_revenue": disjunctive_discount_revenue,
    "parts_supplier_relationship": parts_supplier_relationship,
    "product_type_profit": product_type_profit,
    "large_volume_customers": large_volume_customers,
    "pricing_rollup": pricing_rollup,
    "running_order_totals": running_order_totals,
    "events_pivot_counts": events_pivot_counts,
    "sessionize_events": sessionize_events,
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
    "volume_shipping": _VOLUME_SQL,
    "national_market_share": _SHARE_SQL,
    "promo_revenue_share": _PROMO_SQL,
    "cheapest_supplier_per_part": _CHEAPEST_SQL,
    "order_priority_check": _Q4_SQL,
    "linestatus_priority": _Q12_SQL,
    "customer_order_distribution": _Q13_SQL,
    "sales_opportunity_by_nation": _Q22_SQL,
    "returned_item_revenue": _Q10_SQL,
    "small_qty_order_revenue": _Q17_SQL,
    "forecast_revenue_change": _Q6_SQL,
    "suppliers_kept_waiting": _Q21_SQL,
    "disjunctive_discount_revenue": _Q19_SQL,
    "parts_supplier_relationship": _Q16_SQL,
    "product_type_profit": _Q9_SQL,
    "large_volume_customers": _Q18_SQL,
    "pricing_rollup": _ROLLUP_SQL,
    "running_order_totals": _RUNNING_SQL,
    "events_pivot_counts": _PIVOT_SQL,
    "sessionize_events": _SESSION_SQL,
}
