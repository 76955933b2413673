"""Temporal interval-join query: for every click event, how many
purchases did the same user make in the following 15 minutes?

The naive formulation is a non-equi join (``p.ts BETWEEN c.ts AND
c.ts + 15min``) which Spark executes as BroadcastNestedLoopJoin —
O(clicks x purchases) per user at best. The engine's
:func:`trx_spark.operators.rangejoin.interval_point_join` quantizes
time into 15-minute buckets and turns it into a hash equi-join on
(user_id, bucket); the oracle keeps the naive inequality-join SQL, so
the gate proves the bucketed plan computes exactly the nested-loop
semantics. All comparisons are on integer MICROSECONDS (``ts_ns DIV
1000`` == DuckDB ``epoch_us``): the events parquet carries true nanos
but DuckDB's view truncates to micros, so micros is the precision both
engines share (same convention as ``sessionize_events``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.exact import dfinal, fint, sql_fint
from trx_spark.operators.rangejoin import interval_point_join
from trx_spark.tables import load_table

_WIN_US = 15 * 60 * 1_000_000  # 15 minutes, in micros


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.expr("ts_ns DIV 1000").alias("t_us"),
        F.expr("ts_ns DIV 1000").alias("w_start"),
        (F.expr("ts_ns DIV 1000") + _WIN_US).alias("w_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.expr("ts_ns DIV 1000").alias("p_us")
    )
    # how="left": zero-match clicks keep one null row per probe bucket;
    # the groupBy collapses them — ONE join, ONE agg, no join-back
    matched = interval_point_join(
        clicks,
        purchases,
        on=["user_id"],
        start="w_start",
        end="w_end",
        point="p_us",
        bucket_width=_WIN_US,
        how="left",
    )
    return matched.groupBy("event_id", "user_id", "t_us").agg(
        F.count("p_us").alias("n_purchases_15m")
    )


_RANGE_JOIN_SQL = f"""
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS t_us,
       CAST(COUNT(p.user_id) AS BIGINT) AS n_purchases_15m
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(c.ts)
 AND epoch_us(p.ts) < epoch_us(c.ts) + {_WIN_US}
WHERE c.event_type = 'click'
GROUP BY c.event_id, c.user_id, epoch_us(c.ts)
"""


# ---------------------------------------------------------------------
# Funnel analysis: view → click → purchase per user
# ---------------------------------------------------------------------

_FUNNEL_WIN_US = 24 * 3600 * 1_000_000  # each stage within 24 h of the prior


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic conversion funnel: per user, the FIRST view, then the
    earliest click within 24 h after it, then the earliest purchase
    within 24 h after that click. ``funnel_stage`` ∈ {1, 2, 3} = how
    deep the user got.

    Plan shape: three keyed (user_id) min-aggregates chained by
    broadcast-or-shuffle equi-joins — no window, no non-equi join (the
    24 h bound is a residual predicate on an equi-join, same policy as
    events_range_join). All comparisons on integer micros.

    Output: (user_id, t_view_us, t_click_us, t_purchase_us,
    funnel_stage)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns DIV 1000").alias("t_us")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_view_us"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(
            (F.col("t_us") > F.col("t_view_us"))
            & (F.col("t_us") <= F.col("t_view_us") + _FUNNEL_WIN_US)
        )
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_click_us"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(
            (F.col("t_us") > F.col("t_click_us"))
            & (F.col("t_us") <= F.col("t_click_us") + _FUNNEL_WIN_US)
        )
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_purchase_us"))
    )
    stage = (
        F.lit(1)
        + F.when(F.col("t_click_us").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_purchase_us").isNotNull(), 1).otherwise(0)
    ).cast("int")
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(
            "user_id",
            "t_view_us",
            "t_click_us",
            "t_purchase_us",
            stage.alias("funnel_stage"),
        )
    )


_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
),
views AS (
  SELECT user_id, MIN(t_us) AS t_view_us FROM ev
  WHERE event_type = 'view' GROUP BY user_id
),
clicks AS (
  SELECT e.user_id, MIN(e.t_us) AS t_click_us
  FROM ev e JOIN views v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.t_us > v.t_view_us AND e.t_us <= v.t_view_us + {_FUNNEL_WIN_US}
  GROUP BY e.user_id
),
purchases AS (
  SELECT e.user_id, MIN(e.t_us) AS t_purchase_us
  FROM ev e JOIN clicks c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.t_us > c.t_click_us AND e.t_us <= c.t_click_us + {_FUNNEL_WIN_US}
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view_us, c.t_click_us, p.t_purchase_us,
       CAST(1 + (CASE WHEN c.t_click_us IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN p.t_purchase_us IS NOT NULL THEN 1 ELSE 0 END)
            AS INTEGER) AS funnel_stage
FROM views v
LEFT JOIN clicks c ON c.user_id = v.user_id
LEFT JOIN purchases p ON p.user_id = v.user_id
"""


# ---------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------

_DAY_US = 86_400 * 1_000_000


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day
    (their cohort); for each (cohort_day, day_offset) the number of
    distinct cohort members active that many days later.

    Plan: one keyed min-agg for the cohort table, one equi-join back
    on user_id, one (cohort, offset) count-distinct — every shuffle
    keyed, offsets are integer day arithmetic on micros.

    Output: (cohort_day, day_offset, n_active_users)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns DIV 1000").alias("t_us")
    )
    days = ev.select("user_id", F.expr(f"t_us DIV {_DAY_US}").alias("day"))
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


_COHORT_SQL = f"""
WITH days AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
),
cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
       CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_active_users
FROM days d JOIN cohort c USING (user_id)
GROUP BY c.cohort_day, d.day - c.cohort_day
"""


# ---------------------------------------------------------------------
# CUSUM drift chart over per-minute event rates
# ---------------------------------------------------------------------
#
# Classic rate-drift diagnostic (Page 1954 CUSUM chart, V-mask form):
# per event_type, bin events to minutes and track the cumulative
# deviation of the per-minute count from the type's mean rate. The
# deviation is kept as an EXACT integer D_i = nm·Σ_{j≤i} c_j − i·total
# (nm = #minutes, total = #events for the type) so both engines agree
# bit-for-bit; cum_dev = D_i / nm is the chart value and the peak
# |D_i| per type marks the strongest drift point.

_MIN_NS = 60 * 1_000_000_000


def event_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, minute, n_events, cum_dev, is_peak): cumulative
    rate-deviation chart per event type.

    Plan: one groupBy to the (type, minute) grain, windows keyed by
    event_type (cumsum + rank — the per-type minute count is bounded
    by the TIME RANGE, not the data volume, so the window partition
    stays small at any corpus size), per-type scalars via aggregate +
    join (no global window)."""
    ev = load_table(spark, sf_dir, "events")
    binned = (
        ev.select("event_type", F.expr(f"ts_ns DIV {_MIN_NS}").alias("minute"))
        .groupBy("event_type", "minute")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    totals = binned.groupBy("event_type").agg(
        F.sum("n_events").alias("total"), F.count(F.lit(1)).alias("nm")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wi = Window.partitionBy("event_type").orderBy("minute")
    d = (
        binned.join(totals, "event_type")
        .withColumn("csum", F.sum("n_events").over(w))
        .withColumn("i", F.row_number().over(wi).cast("long"))
        .withColumn("d", F.col("nm") * F.col("csum") - F.col("i") * F.col("total"))
    )
    peaks = d.groupBy("event_type").agg(F.max(F.abs("d")).alias("peak"))
    return (
        d.join(peaks, "event_type")
        .select(
            "event_type",
            "minute",
            "n_events",
            (F.col("d").cast("double") / F.col("nm").cast("double")).alias("cum_dev"),
            (F.abs("d") == F.col("peak")).alias("is_peak"),
        )
    )


_CUSUM_SQL = f"""
WITH binned AS (
  SELECT event_type, epoch_ns(ts) // {_MIN_NS} AS minute,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, epoch_ns(ts) // {_MIN_NS}
),
totals AS (
  SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS nm
  FROM binned GROUP BY event_type
),
d AS (
  SELECT b.event_type, b.minute, b.n_events, t.nm,
    t.nm * SUM(b.n_events) OVER (PARTITION BY b.event_type ORDER BY b.minute
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - CAST(ROW_NUMBER() OVER (PARTITION BY b.event_type ORDER BY b.minute) AS BIGINT)
        * t.total AS dv
  FROM binned b JOIN totals t USING (event_type)
),
peaks AS (SELECT event_type, MAX(ABS(dv)) AS peak FROM d GROUP BY event_type)
SELECT d.event_type, d.minute, d.n_events,
       CAST(d.dv AS DOUBLE) / CAST(d.nm AS DOUBLE) AS cum_dev,
       (ABS(d.dv) = p.peak) AS is_peak
FROM d JOIN peaks p USING (event_type)
"""



# ---------------------------------------------------------------------
# First-order Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event sequences (time order, event_id tiebreak) folded
    into the first-order Markov transition matrix: (src_type, dst_type,
    n, p) with p row-normalized — the behavioral-model summary a
    session-analysis pipeline derives from clickstreams.

    Scale: ONE window pass partitioned by user (no global sort — each
    user's sequence sorts within its shuffle partition) + one keyed
    aggregation; the result is |types|² rows at any corpus size, and
    the row totals broadcast back for normalization."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns DIV 1000").alias("t_us"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    pairs = ev.withColumn("dst_type", F.lead("event_type").over(w)).filter(
        F.col("dst_type").isNotNull()
    )
    # |types|²-row result, checkpointed so the window + aggregation
    # chain runs once, not once per consumer (counts leg + row totals)
    counts = pairs.groupBy(
        F.col("event_type").alias("src_type"), "dst_type"
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    tot = counts.groupBy("src_type").agg(F.sum("n").alias("tot"))
    return counts.join(F.broadcast(tot), "src_type").select(
        "src_type",
        "dst_type",
        "n",
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias("p"),
    )


_TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS dst_type
  FROM events
),
c AS (
  SELECT event_type AS src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2
)
SELECT src_type, dst_type, n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE) AS p
FROM c
"""


# ---------------------------------------------------------------------
# Rolling 7-day active users (the classic DAU/WAU engagement rollup)
# ---------------------------------------------------------------------

_DAY_US = 86_400_000_000


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event day: distinct users that day (active_1d) and over the
    trailing 7-day window (active_7d).

    Scale: events collapse FIRST to distinct (day, user) — bounded by
    users × days, not event volume — then the tiny day dimension
    broadcasts into the trailing-window inequality join (each (day,
    user) row meets ≤ 7 days), so the only corpus-scale work is the
    initial distinct; no day ever holds more than 7× the (day, user)
    rows of its window."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(ts_ns DIV 1000) DIV {_DAY_US}").alias("day"), "user_id"
    )
    # the distinct (day, user) collapse is the one corpus-scale stage;
    # checkpointed so the daily leg, the day dimension, and the
    # trailing-window join all reuse it instead of re-scanning events
    du = ev.distinct().localCheckpoint()
    daily = du.groupBy("day").agg(
        F.countDistinct("user_id").alias("active_1d")
    )
    days = du.select("day").distinct()
    rolled = (
        du.alias("a")
        .join(
            F.broadcast(days.alias("d")),
            (F.col("a.day") <= F.col("d.day"))
            & (F.col("a.day") >= F.col("d.day") - 6),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("a.user_id").alias("active_7d"))
    )
    return daily.join(rolled, "day")


_ROLLING_ACTIVE_SQL = f"""
WITH du AS (
  SELECT DISTINCT (epoch_us(ts) // {_DAY_US}) AS day, user_id FROM events
),
daily AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_1d
  FROM du GROUP BY day
),
days AS (SELECT DISTINCT day FROM du),
rolled AS (
  SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_7d
  FROM days d JOIN du a ON a.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day
)
SELECT daily.day, daily.active_1d, rolled.active_7d
FROM daily JOIN rolled ON daily.day = rolled.day
"""


# ---------------------------------------------------------------------
# RFM user segmentation (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------


def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM segmentation over purchase events: per user the
    last-purchase time (recency), purchase count (frequency), and
    fixed-point value total (monetary), each cut into quartiles and
    composed into the three-digit rfm_code marketers read (444 = best).

    Quartile ASSIGNMENT uses exact-percentile cut values (the
    curriculum_phases discipline): one keyed aggregation collapses
    events to one row per user, a single 1-row exact-percentile
    aggregate broadcasts the three cuts per metric, and bucket = 1 +
    #(cuts below value) — ties share a bucket, nothing needs a global
    ordered pass (a global ntile window would funnel every user
    through one task; plan invariant 1). ``percentile`` ≡ DuckDB
    ``quantile_cont`` exactly, so the gate checks the cuts too."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.expr("ts_ns DIV 1000")).alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(fint(F.col("value"))).alias("monetary_fp"),
    ).localCheckpoint()  # feeds the cuts aggregate AND the assignment
    cuts = per_user.agg(
        F.expr("percentile(last_us, array(0.25, 0.5, 0.75))").alias("rc"),
        F.expr("percentile(frequency, array(0.25, 0.5, 0.75))").alias("fc"),
        F.expr("percentile(monetary_fp, array(0.25, 0.5, 0.75))").alias("mc"),
    )

    def bucket(v: str, c: str):
        out = F.lit(1)
        for i in (1, 2, 3):
            out = out + (F.col(v) > F.element_at(F.col(c), i)).cast("long")
        return out.cast("long")

    return (
        per_user.crossJoin(F.broadcast(cuts))
        .withColumn("r_q", bucket("last_us", "rc"))
        .withColumn("f_q", bucket("frequency", "fc"))
        .withColumn("m_q", bucket("monetary_fp", "mc"))
        .select(
            "user_id",
            "last_us",
            "frequency",
            dfinal(F.col("monetary_fp")).alias("monetary"),
            "r_q",
            "f_q",
            "m_q",
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
            .cast("long")
            .alias("rfm_code"),
        )
    )


_RFM_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         MAX(epoch_us(ts)) AS last_us,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM({sql_fint('value')}) AS BIGINT) AS monetary_fp
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
cuts AS (
  SELECT quantile_cont(last_us, [0.25, 0.5, 0.75]) AS rc,
         quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc,
         quantile_cont(monetary_fp, [0.25, 0.5, 0.75]) AS mc
  FROM per_user
),
seg AS (
  SELECT p.*,
    CAST(1 + (CASE WHEN p.last_us > c.rc[1] THEN 1 ELSE 0 END)
           + (CASE WHEN p.last_us > c.rc[2] THEN 1 ELSE 0 END)
           + (CASE WHEN p.last_us > c.rc[3] THEN 1 ELSE 0 END) AS BIGINT) AS r_q,
    CAST(1 + (CASE WHEN p.frequency > c.fc[1] THEN 1 ELSE 0 END)
           + (CASE WHEN p.frequency > c.fc[2] THEN 1 ELSE 0 END)
           + (CASE WHEN p.frequency > c.fc[3] THEN 1 ELSE 0 END) AS BIGINT) AS f_q,
    CAST(1 + (CASE WHEN p.monetary_fp > c.mc[1] THEN 1 ELSE 0 END)
           + (CASE WHEN p.monetary_fp > c.mc[2] THEN 1 ELSE 0 END)
           + (CASE WHEN p.monetary_fp > c.mc[3] THEN 1 ELSE 0 END) AS BIGINT) AS m_q
  FROM per_user p CROSS JOIN cuts c
)
SELECT user_id, last_us, frequency,
       CAST(monetary_fp AS DOUBLE) / 1e6 AS monetary,
       r_q, f_q, m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code
FROM seg
"""


# ---------------------------------------------------------------------
# Peak concurrent sessions (distributed sweep line)
# ---------------------------------------------------------------------

_SWEEP_BUCKET_US = 3_600_000_000  # 1 h sweep buckets
_DAY_US = 86_400_000_000


def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak number of concurrently open user sessions — the
    classic capacity/ops metric, computed as an interval sweep line:
    every session contributes (+1 at start, −1 at end+1 — half-open, so
    single-event sessions still count at their instant), and the peak
    is the maximum of the running boundary sum sampled at the start
    events of each day.

    A running sum over ALL boundaries is inherently a global order — a
    single-task window at scale — so the plan is the distributed
    prefix-sum decomposition: boundaries are bucketed by hour, each
    bucket computes its LOCAL running sum in parallel (one window per
    bucket partition), the per-bucket totals (a ≤ |hours|-row frame —
    ~10⁵ rows for a decade, driver-trivial) get exclusive-prefix
    offsets on a tiny global window, and the broadcast offsets are
    added back. Exact integer sums make the decomposition equal the
    single-pass oracle bit-for-bit.

    Output: (day, peak_concurrent) — day = epoch-day index, one row per
    day that has at least one session start."""
    from trx_spark.queries.relational import sessionize_events

    sess = sessionize_events(spark, sf_dir)
    starts = sess.select(
        F.col("t_start_us").alias("t"), F.lit(1).alias("delta")
    )
    ends = sess.select(
        (F.col("t_end_us") + 1).alias("t"), F.lit(-1).alias("delta")
    )
    bnd = starts.unionByName(ends).withColumn(
        "bucket", F.expr(f"t DIV {_SWEEP_BUCKET_US}")
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = bnd.withColumn("run_local", F.sum("delta").over(w_local))
    totals = bnd.groupBy("bucket").agg(F.sum("delta").alias("btot"))
    # exclusive prefix over the tiny bucket-totals frame (bounded by
    # the time span in hours, never by data volume)
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = totals.select(
        "bucket", F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("off")
    )
    conc = local.join(F.broadcast(offs), "bucket").withColumn(
        "conc", F.col("run_local") + F.col("off")
    )
    return (
        conc.filter(F.col("delta") == 1)
        .groupBy(F.expr(f"t DIV {_DAY_US}").alias("day"))
        .agg(F.max("conc").cast("long").alias("peak_concurrent"))
    )


_CONCURRENT_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {30 * 60 * 1_000_000}
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
),
sess AS (
  SELECT user_id, session_id, MIN(t_us) AS t_start_us, MAX(t_us) AS t_end_us
  FROM s GROUP BY user_id, session_id
),
b AS (
  SELECT t_start_us AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT t_end_us + 1, -1 FROM sess
),
r AS (
  SELECT t, delta,
    SUM(delta) OVER (ORDER BY t, delta
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM b
)
SELECT CAST(t // {_DAY_US} AS BIGINT) AS day,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrent
FROM r WHERE delta = 1 GROUP BY day
"""


# ---------------------------------------------------------------------
# Clickstream path mining: top event-type trigram paths
# ---------------------------------------------------------------------

_PATH_K = 20


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k length-3 event-type paths across per-user event sequences
    (the sequence-mining census behind funnel design and behavioral
    training features — extends event_transition_matrix's bigrams to
    trigrams). Ordering inside a user is (ts_ns, event_id) — total and
    deterministic. One per-user window pass (two leads), one
    map-side-combining path groupBy, TakeOrderedAndProject top-k with
    a path tie-break."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_ns", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    paths = (
        ev.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(
                ">", F.col("event_type"), F.col("t2"), F.col("t3")
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(_PATH_K)
    )


_PATH_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type,
    LEAD(event_type, 1) OVER (PARTITION BY user_id
      ORDER BY epoch_ns(ts), event_id) AS t2,
    LEAD(event_type, 2) OVER (PARTITION BY user_id
      ORDER BY epoch_ns(ts), event_id) AS t3
  FROM events
)
SELECT event_type || '>' || t2 || '>' || t3 AS path,
  CAST(COUNT(*) AS BIGINT) AS n_paths
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY n_paths DESC, path ASC
LIMIT {_PATH_K}
"""

QUERIES = {
    "events_range_join": events_range_join,
    "event_path_trigrams": event_path_trigrams,
    "concurrent_sessions_peak": concurrent_sessions_peak,
    "event_funnel": event_funnel,
    "cohort_retention": cohort_retention,
    "event_rate_cusum": event_rate_cusum,
    "event_transition_matrix": event_transition_matrix,
    "rolling_active_users": rolling_active_users,
    "user_rfm_segments": user_rfm_segments,
}
ORACLES = {
    "events_range_join": _RANGE_JOIN_SQL,
    "event_path_trigrams": _PATH_SQL,
    "concurrent_sessions_peak": _CONCURRENT_SQL,
    "event_funnel": _FUNNEL_SQL,
    "cohort_retention": _COHORT_SQL,
    "event_rate_cusum": _CUSUM_SQL,
    "event_transition_matrix": _TRANSITION_SQL,
    "rolling_active_users": _ROLLING_ACTIVE_SQL,
    "user_rfm_segments": _RFM_SQL,
}
