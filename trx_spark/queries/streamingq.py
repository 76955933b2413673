"""Streaming correctness-gate entries (SURVEY ST1/ST2): the
incremental pipeline and its siblings run over the testdata parquet
with an availableNow trigger and return the reduced result. Every
entry carries a DuckDB oracle: over a single replay of static input,
each streaming reduction equals its batch twin (count/fixed-point-sum
GROUP BY, windowed counts, distinct keys, session islands, interval
join, mergeable sketches, maintained matview) — so the driver gate
checks the stateful path bit-for-bit, and the multi-wave ≡ single-wave
properties are pinned separately in tests/test_streaming*.py."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import dfinal, fint, sql_dfinal, sql_dsum, sql_fint
from trx_spark.queries.relational import _PRICING_SQL
from trx_spark.streaming import store
from trx_spark.streaming.incremental import run_catchup


def _make_ts_prepare(schema):
    """Layout shim (same branch as tables.py load_table): the events
    parquet is TIMESTAMP(NANOS) in the driver's generator (reads as
    BIGINT nanos under nanosAsLong) but TIMESTAMP_NTZ micros in other
    layouts — derive a proper TimestampType ``ts_t`` either way.
    Session timezone is pinned UTC so the NTZ cast is value-preserving."""
    dtype = {f.name: f.dataType.simpleString() for f in schema.fields}.get("ts")
    if dtype == "bigint":
        return lambda df: df.withColumn(
            "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return lambda df: df.withColumn("ts_t", F.col("ts").cast("timestamp"))


def streaming_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow micro-batch ingestion of the events parquet →
    append store → per-type reduction, returned as a DataFrame.

    The catch-up replay ingests exactly the static events parquet, so
    the per-type count + fixed-point sum EQUALS the batch GROUP BY —
    full DuckDB oracle (same pattern as streaming_pricing_summary)."""
    # normalize session parquet handling like load_table does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_stream_")
    store = os.path.join(work, "store")
    reduced = os.path.join(work, "reduced")
    ckpt = os.path.join(work, "ckpt")

    def reduce_fn(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(fint(F.col("value"))).alias("value_fp"),
        )

    run_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="events.parquet",
        schema=schema,
        store_dir=store,
        checkpoint_dir=ckpt,
        reduce_fn=reduce_fn,
        reduced_dir=reduced,
    )
    out = spark.read.parquet(reduced)
    return out.withColumn("sum_value", dfinal(F.col("value_fp"))).drop("value_fp")


_INCREMENTAL_STATS_SQL = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type
"""


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-day event-time counts per event_type over
    the streamed events parquet (availableNow). Over static input this
    EQUALS the batch GROUP BY — so unlike the incremental entry, this
    streaming query carries a full DuckDB oracle."""
    from trx_spark.streaming.windowed import run_windowed_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    prepare = _make_ts_prepare(schema)

    return run_windowed_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="events.parquet",
        schema=schema,
        ts="ts_t",
        keys=["event_type"],
        window="1 day",
        watermark="1 hour",
        prepare=prepare,
    )


_WINDOWED_SQL = """
SELECT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (dropDuplicatesWithinWatermark) of the events
    stream on user_id, availableNow replay. WHICH duplicate row
    survives is engine-internal, so the gate projects to the surviving
    KEY SET — deterministic, and over a single replay it equals batch
    SELECT DISTINCT (full oracle)."""
    from trx_spark.streaming.dedup import run_dedup_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    prepare = _make_ts_prepare(schema)

    out = run_dedup_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="events.parquet",
        schema=schema,
        keys=["user_id"],
        ts="ts_t",
        watermark="1 hour",
        prepare=prepare,
    )
    return out.select("user_id")


_DEDUP_KEYS_SQL = "SELECT DISTINCT user_id FROM events"


_SESSION_GAP_MIN = 30


def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` sessionization of the streamed events
    parquet (availableNow), per user. Over static input this equals
    the gaps-and-islands batch formulation with the closed boundary
    (new session only when diff > gap; two events EXACTLY gap apart
    merge — pinned by test_streaming_sessions) — a full DuckDB oracle,
    and a
    cross-check of ``sessionize_events``' relational sessionization
    against Spark's built-in session merging."""
    from trx_spark.streaming.sessions import run_session_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    prepare = _make_ts_prepare(schema)

    return run_session_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="events.parquet",
        schema=schema,
        ts="ts_t",
        keys=["user_id"],
        gap=f"{_SESSION_GAP_MIN} minutes",
        watermark="1 hour",
        prepare=prepare,
    )


_SESSION_STATS_SQL = f"""
WITH g AS (
  SELECT user_id, epoch_us(ts) AS t_us,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                 > {_SESSION_GAP_MIN * 60 * 1_000_000}
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
  MIN(t_us) AS session_start_us,
  MAX(t_us) + {_SESSION_GAP_MIN * 60 * 1_000_000} AS session_end_us,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


_ATTR_WINDOW_H = 6


def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click attribution):
    'click' events joined onto 'view' events of the same user within a
    6-hour half-open window, both sides streamed (availableNow) and
    watermarked so join state expires. Over a single replay of static
    input this equals the batch inequality join — full DuckDB oracle.
    The batch twin of this shape is ``events_range_join``."""
    from trx_spark.streaming.joins import run_interval_join_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    base = _make_ts_prepare(schema)

    def prep(event_type, id_out, ts_out):
        def p(df: DataFrame) -> DataFrame:
            return (
                base(df)
                .filter(F.col("event_type") == event_type)
                .select(
                    "user_id",
                    F.col("event_id").alias(id_out),
                    F.col("ts_t").alias(ts_out),
                )
            )

        return p

    out = run_interval_join_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="events.parquet",
        schema=schema,
        prepare_left=prep("view", "view_id", "v_ts"),
        prepare_right=prep("click", "click_id", "c_ts"),
        on="user_id",
        l_ts="v_ts",
        r_ts="c_ts",
        window=f"{_ATTR_WINDOW_H} hours",
        watermark=f"{2 * _ATTR_WINDOW_H} hours",
    )
    return out.select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))).alias("delay_us"),
    )


_ATTRIBUTION_SQL = f"""
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS delay_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts < v.ts + INTERVAL {_ATTR_WINDOW_H} HOUR
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


def streaming_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch over the documents feed
    (availableNow): each micro-batch contributes a ≤ 256-cell partial,
    the state is the cell-wise sum. Mergeability makes the streamed
    sketch EQUAL the batch sketch of the same corpus, so this streaming
    query carries a full DuckDB oracle (the batch CMS cell table) —
    the gate literally checks the merge property bit-for-bit.
    Multi-wave ≡ single-wave ≡ batch is pinned separately in
    tests/test_streaming_sketch.py."""
    from trx_spark.streaming.sketch import run_cms_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_cms_stream_")
    out = run_cms_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="documents.parquet",
        schema=schema,
        sketch_dir=os.path.join(work, "sketch"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    return out.select(F.col("cell").cast("long").alias("cell"), "c")


def _cms_cells_oracle_sql() -> str:
    from trx_spark.queries.curation import _cms_cells_sql
    from trx_spark.queries.textdata import _TOKEN_RE, _tok_hash_sql

    return f"""
WITH tok AS (
  SELECT s.token
  FROM (SELECT regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents) t,
       UNNEST(toks) AS s(token)
),
cellrows AS (
  {_cms_cells_sql(_tok_hash_sql("token"), "token", "tok")}
)
SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS c
FROM cellrows GROUP BY cell
"""


def streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog over the documents feed (availableNow):
    per-epoch ≤ 64-row register partials merged by register-wise MAX.
    HLL mergeability makes the streamed register table EQUAL the batch
    one, so this also carries a full DuckDB oracle."""
    from trx_spark.streaming.sketch import run_hll_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_hll_stream_")
    out = run_hll_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="documents.parquet",
        schema=schema,
        sketch_dir=os.path.join(work, "sketch"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    return out.select("reg", F.col("rmax").cast("long").alias("rmax"))


def _hll_registers_oracle_sql() -> str:
    from trx_spark.queries.sketches import _HLL_A, _HLL_B, _HLL_M, _HLL_WBITS
    from trx_spark.queries.textdata import _P, _TOKEN_RE, _tok_hash_sql

    return f"""
WITH tok AS (
  SELECT s.token
  FROM (SELECT regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents) t,
       UNNEST(toks) AS s(token)
),
hashed AS (
  SELECT ({_HLL_A} * {_tok_hash_sql('token')} + {_HLL_B}) % {_P} AS h FROM tok
),
rr AS (
  SELECT CAST(FLOOR(h % {_HLL_M}) AS BIGINT) AS reg,
         CAST(FLOOR(h / {float(_HLL_M)!r}) AS BIGINT) AS wv
  FROM hashed
)
SELECT reg,
       CAST(MAX(CASE WHEN wv = 0 THEN {_HLL_WBITS + 1}
                     ELSE {_HLL_WBITS + 1} - length(bin(wv)) END) AS BIGINT) AS rmax
FROM rr GROUP BY reg
"""


def streaming_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV theta sketch over the documents feed
    (availableNow): per-epoch K-min partials (≤ sources·K rows each),
    merged as the K smallest distinct values per source — a mergeable
    order statistic, so the streamed sketch EQUALS the batch per-source
    sketch of kmv_source_overlap and carries a full DuckDB oracle.
    Output pins the whole sketch content: per source, k_used, theta
    (the K-th smallest) and the sum of sketch values."""
    from trx_spark.streaming.sketch import run_kmv_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_kmv_stream_")
    out = run_kmv_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="documents.parquet",
        schema=schema,
        sketch_dir=os.path.join(work, "sketch"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("h").alias("theta"),
        F.sum("h").alias("h_sum"),
    )


def _kmv_sketch_oracle_sql() -> str:
    from trx_spark.queries.sketches import _KMV_A, _KMV_B, _KMV_K
    from trx_spark.queries.textdata import _P, _TOKEN_RE, _tok_hash_sql

    return f"""
WITH toks AS (
  SELECT DISTINCT source, b AS token FROM (
    SELECT source,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS b
    FROM (SELECT source, regexp_extract_all(text, '{_TOKEN_RE}') AS t
          FROM documents)
  )
),
sh AS (
  SELECT DISTINCT source, ({_tok_hash_sql('token')} * {_KMV_A} + {_KMV_B})
         % {_P} AS h
  FROM toks
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh
  ) WHERE rn <= {_KMV_K}
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS k_used,
       CAST(MAX(h) AS BIGINT) AS theta,
       CAST(SUM(h) AS BIGINT) AS h_sum
FROM sk GROUP BY source
"""


def streaming_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile sketch (hash-level sampling, the KLL sampler
    component) over the events feed (availableNow): per-epoch survivor
    partials (≤ groups·K rows each) merged by union + level
    re-selection at the max partial level — the nesting S_{L'} ⊆ S_L
    makes the streamed sketch EQUAL the one-shot batch sketch
    (quantile_sketch_events' construction), so this carries a full
    DuckDB oracle.  Output pins the whole sketch content: per
    event_type, the level, survivor count, estimated total and the
    survivor hash/value sums."""
    from trx_spark.streaming.sketch import run_qsketch_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_qsketch_stream_")
    out = run_qsketch_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="events.parquet",
        schema=schema,
        sketch_dir=os.path.join(work, "sketch"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    return (
        out.groupBy(F.col("g").alias("event_type"))
        .agg(
            F.max("lvl").alias("level"),
            F.count(F.lit(1)).alias("k_used"),
            F.sum("h").alias("h_sum"),
            F.sum("cv").alias("cv_sum"),
        )
        .withColumn(
            "n_est",
            F.col("k_used")
            * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(level AS INT))"),
        )
        .select("event_type", "level", "k_used", "n_est", "h_sum", "cv_sum")
    )


def _qsketch_oracle_sql() -> str:
    from trx_spark.queries.sketches import _QS_A, _QS_B, _QS_K, _QS_TZC_SQL
    from trx_spark.queries.textdata import _P, _tok_hash_sql

    return f"""
WITH rows_ AS (
  SELECT event_type AS g,
         CAST(ROUND(value * 100) AS BIGINT) AS cv,
         ({_tok_hash_sql("CAST(event_id AS VARCHAR)")} * {_QS_A}
          + {_QS_B}) % {_P} AS h
  FROM events
),
lv AS (SELECT g, cv, h, {_QS_TZC_SQL} AS tzc FROM rows_),
hist AS (SELECT g, tzc, CAST(COUNT(*) AS BIGINT) AS c FROM lv GROUP BY 1, 2),
cge AS (
  SELECT g, tzc,
         SUM(c) OVER (PARTITION BY g ORDER BY tzc DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cge
  FROM hist
),
lsel AS (
  SELECT g,
         CAST(COALESCE(MAX(CASE WHEN cge > {_QS_K} THEN tzc + 1 END), 0)
              AS BIGINT) AS lvl
  FROM cge GROUP BY g
),
kept AS (
  SELECT lv.g, lsel.lvl, lv.cv, lv.h
  FROM lv JOIN lsel ON lv.g = lsel.g
  WHERE lv.tzc >= lsel.lvl
)
SELECT g AS event_type,
       CAST(MAX(lvl) AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS k_used,
       CAST(COUNT(*) AS BIGINT)
         * (CAST(1 AS BIGINT) << CAST(MAX(lvl) AS INTEGER)) AS n_est,
       CAST(SUM(h) AS BIGINT) AS h_sum,
       CAST(SUM(cv) AS BIGINT) AS cv_sum
FROM kept GROUP BY g
"""


def streaming_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the flagship pricing aggregation
    maintained as mergeable per-epoch partials (streaming/matview.py).
    Fixed-point partial sums make the merged view BIT-EQUAL to the
    batch aggregation, so this streaming query carries the very same
    DuckDB oracle as batch `pricing_summary`."""
    from trx_spark.streaming.matview import run_pricing_matview_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_matview_")
    return run_pricing_matview_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="lineitem.parquet",
        schema=schema,
        view_dir=os.path.join(work, "view"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )


def streaming_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator in the gate: per-event-type running
    (count, sum, min, max) maintained in the streaming state store via
    ``applyInPandasWithState`` (streaming/stateful.py), availableNow
    replay of the events parquet.

    Exactness: the value is fed FIXED-POINT (``exact.fint``, floor(value·1e6),
    as an integer-valued double), so the running float sum is exact while
    |sum| < 2^53 and order-independent — after draining, the final
    state EQUALS the batch GROUP BY, giving the stateful path a full
    DuckDB oracle. Cross-batch accumulation is pinned separately in
    tests/test_streaming_stateful.py."""
    from pyspark.sql import Window

    from trx_spark.streaming.stateful import running_key_stats

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_stateful_")
    out_dir = os.path.join(work, "updates")
    ckpt = os.path.join(work, "ckpt")

    def plan(stream: DataFrame) -> DataFrame:
        return running_key_stats(
            stream.select(
                F.col("event_type").alias("k"),
                fint(F.col("value")).cast("double").alias("v"),
            ),
            key="k",
            value="v",
        )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        store.write(batch, out_dir, epoch_id)

    store.drain(
        spark,
        landing_dir=sf_dir,
        schema=schema,
        path_glob_filter="events.parquet",
        plan=plan,
        handler=sink,
        checkpoint_dir=ckpt,
        output_mode="update",
    )
    upd = spark.read.parquet(out_dir)
    # update mode emits one row per (key, batch); the final state is
    # the row with the largest n per key
    w = Window.partitionBy("k").orderBy(F.desc("n"))
    return (
        upd.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("k").alias("event_type"),
            "n",
            dfinal(F.col("total")).alias("sum_value"),
            dfinal(F.col("vmin")).alias("min_value"),
            dfinal(F.col("vmax")).alias("max_value"),
        )
    )


_RUNNING_STATS_SQL = f"""
SELECT event_type,
       CAST(COUNT(value) AS BIGINT) AS n,
       {sql_dsum('value')} AS sum_value,
       {sql_dfinal(f"MIN({sql_fint('value')})")} AS min_value,
       {sql_dfinal(f"MAX({sql_fint('value')})")} AS max_value
FROM events GROUP BY event_type
"""


def streaming_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming MinHash-LSH index (streaming/dedup_index.py) in
    the gate: drain the documents parquet (availableNow) through the
    banded index and return the distinct emitted pair set.

    Over a single replay the emitted pairs EQUAL the batch LSH pair
    set — including the cap semantics: a band key saturating the
    per-key state bound drops exactly the buckets the batch query's
    _LSH_BUCKET_CAP drops (same cap, asserted equal in tests) — so
    this carries the very same oracle as batch ``minhash_lsh_pairs``.
    Multi-wave equivalence is pinned in
    tests/test_streaming_dedup_index.py."""
    from trx_spark.streaming.dedup_index import run_lsh_dedup_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_lshidx_")
    return run_lsh_dedup_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="documents.parquet",
        schema=schema,
        band_store=os.path.join(work, "bands"),
        pairs_dir=os.path.join(work, "pairs"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )


def _lsh_pairs_oracle_sql() -> str:
    from trx_spark.queries.textdata import _LSH_PAIRS_SQL

    return _LSH_PAIRS_SQL


def streaming_curation_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming curation twin (streaming/curation.py) in the gate:
    drain the documents parquet (availableNow) through the first-seen-
    wins handler and return the per-doc verdicts.

    Over a single replay (one micro-batch) the first-seen-wins rules
    are fully SQL-expressible: quality = the batch Gopher gate,
    exact_first = smallest doc_id per text hash, near_dup = shares a
    non-saturated MinHash band key with a smaller doc_id — the same
    banding and the same per-key cap as the batch LSH query, so the
    stateful curation path gets a full DuckDB oracle. Multi-wave ≡
    first-seen-reference equivalence is pinned separately in
    tests/test_streaming_curation.py."""
    from trx_spark.streaming.curation import run_curation_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_curation_")
    return run_curation_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="documents.parquet",
        schema=schema,
        hash_store=os.path.join(work, "hashes"),
        band_store=os.path.join(work, "bands"),
        verdict_dir=os.path.join(work, "verdicts"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )


def _curation_keep_oracle_sql() -> str:
    from trx_spark.queries.corpus import _QUALITY_SQL
    from trx_spark.queries import textdata

    quality = _QUALITY_SQL.strip().rstrip(";")
    return f"""
WITH {textdata._PAIRS_CTES},
near AS (
  SELECT DISTINCT a.doc_id
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.hx = b.hx AND a.hy = b.hy
   AND b.doc_id < a.doc_id
),
ef AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
q AS ({quality})
SELECT d.doc_id,
  q.keep AS quality_keep,
  (d.doc_id IN (SELECT doc_id FROM ef)) AS exact_first,
  (d.doc_id IN (SELECT doc_id FROM near)) AS near_dup,
  (q.keep AND (d.doc_id IN (SELECT doc_id FROM ef))
   AND NOT (d.doc_id IN (SELECT doc_id FROM near))) AS keep
FROM documents d JOIN q ON q.doc_id = d.doc_id
"""


# the landed batch files are an INPUT FIXTURE (the same corpus split
# both MG gates drain), not part of either gate's streaming compute —
# built once per session like the bucketed-table fixture; each gate
# call still creates its OWN fresh sketch/checkpoint dirs, so the
# replay itself is never skipped or shared
def _mg_landing(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Land the documents corpus as one parquet file per deterministic
    ``doc_id % B`` batch (one file per batch id keeps the MG merge's
    no-batch-spans-epochs invariant whatever micro-batch grouping the
    file source picks); returns (landing_dir, schema).

    ONE partitioned write replaces the former per-batch filter +
    coalesce loop — B full corpus scans and B sequential write jobs
    down to a single scan (guide §2.1): repartitioning by the batch
    residue puts each residue in exactly one task, so the dynamic
    writer emits exactly one file per batch, renamed into place."""
    import glob as _glob

    from trx_spark.queries.mgsketch import _MG_B

    def build():
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        work = tempfile.mkdtemp(prefix="trx_mg_stream_")
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        staged = os.path.join(work, "staged")
        (
            docs.withColumn("_b", F.col("doc_id") % _MG_B)
            .repartition(_MG_B, F.col("_b"))
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(staged)
        )
        for b in range(_MG_B):
            parts = _glob.glob(os.path.join(staged, f"_b={b}", "part-*.parquet"))
            if parts:
                os.rename(parts[0], os.path.join(landing, f"batch_{b}.parquet"))
            else:
                # residue with no docs (never at the bench SFs): land an
                # empty batch file, as the former per-batch write did
                tmp = os.path.join(work, f"w{b}")
                docs.filter(F.lit(False)).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(tmp)
                part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
                os.rename(part, os.path.join(landing, f"batch_{b}.parquet"))
        return (landing, docs.schema)

    return memo("mg_landing", (spark, sf_dir), build)


def streaming_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental training-set manifest (streaming/matview.py's
    run_manifest_catchup) in the gate: drain the documents parquet
    (availableNow) through the curation handler + per-epoch shard
    rollup and return the finalized merged manifest.

    Over a single replay the first-seen-wins keep rules are the SQL
    rules of ``streaming_curation_keep``; the manifest is their rollup
    to (shard, n_docs, n_tokens, n_seqs) — so the incremental view
    carries a full DuckDB oracle.  Multi-wave ≡ accumulated-verdict
    recompute is pinned in tests/test_streaming_manifest.py."""
    from trx_spark.streaming.matview import run_manifest_catchup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    work = tempfile.mkdtemp(prefix="trx_manifest_")
    return run_manifest_catchup(
        spark,
        landing_dir=sf_dir,
        path_glob_filter="documents.parquet",
        schema=schema,
        hash_store=os.path.join(work, "hashes"),
        band_store=os.path.join(work, "bands"),
        verdict_dir=os.path.join(work, "verdicts"),
        manifest_dir=os.path.join(work, "manifest"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )


def _manifest_stream_oracle_sql() -> str:
    from trx_spark.queries import textdata
    from trx_spark.queries.corpus import _QUALITY_SQL
    from trx_spark.queries.curation import _BPE_RE
    from trx_spark.queries.packing import _N_PACK_SHARDS, _SEQ_BUDGET

    quality = _QUALITY_SQL.strip().rstrip(";")
    return f"""
WITH {textdata._PAIRS_CTES},
near AS (
  SELECT DISTINCT a.doc_id
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.hx = b.hx AND a.hy = b.hy
   AND b.doc_id < a.doc_id
),
ef AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
q AS ({quality}),
keptdocs AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN q ON q.doc_id = d.doc_id
  WHERE q.keep AND d.doc_id IN (SELECT doc_id FROM ef)
    AND NOT (d.doc_id IN (SELECT doc_id FROM near))
),
base AS (
  SELECT CAST(doc_id % {_N_PACK_SHARDS} AS BIGINT) AS shard,
         CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
           AS n_tokens
  FROM keptdocs
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(ceil(CAST(SUM(n_tokens) AS DOUBLE) / {float(_SEQ_BUDGET)})
            AS BIGINT) AS n_seqs
FROM base GROUP BY shard
"""


def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Misra-Gries heavy hitters over the documents feed:
    the corpus is landed as one file per deterministic ``doc_id % B``
    batch, drained availableNow at one file per micro-batch; each
    epoch stores a <= K+1-row canonicalized partial, and the merge
    folds them in BATCH order with the same ``mg_fold`` the batch gate
    uses -- streamed == batch == oracle bit-for-bit (the fold is a pure
    function of the multiset because batch membership is).  Output:
    (token, mg_count, d_total, n_total)."""
    from trx_spark.streaming.sketch import run_mg_catchup

    landing, schema = _mg_landing(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="trx_mg_run_")
    return run_mg_catchup(
        spark,
        landing_dir=landing,
        path_glob_filter="batch_*.parquet",
        schema=schema,
        sketch_dir=os.path.join(work, "sketch"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )


def streaming_heavy_hitters_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window streaming MG: same landing + per-batch partial
    store as ``streaming_heavy_hitters``, but the merge folds only the
    last W batch ids present — partials older than the window are
    EVICTED from the fold (not the store, so the window can keep
    sliding).  After the full drain the window is batches [B-W, B),
    exactly the batch gate ``heavy_hitters_windowed``'s fold, so the
    gate shares its windowed recursive-CTE oracle.  Output: (token,
    mg_count, d_total, n_total) over the window's token stream."""
    from trx_spark.queries.mgsketch import _MG_W
    from trx_spark.streaming.sketch import run_mg_catchup

    landing, schema = _mg_landing(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="trx_mg_run_")
    return run_mg_catchup(
        spark,
        window=_MG_W,
        landing_dir=landing,
        path_glob_filter="batch_*.parquet",
        schema=schema,
        sketch_dir=os.path.join(work, "sketch"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )


def _mg_stream_oracle_sql(lo: int = 0) -> str:
    from trx_spark.queries.mgsketch import _mg_sql_core

    return f"""
WITH RECURSIVE {_mg_sql_core(lo=lo)},
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM wtoks)
SELECT token, mg_count, d_total, n_total FROM kept CROSS JOIN tot
"""


def _mg_windowed_stream_oracle_sql() -> str:
    from trx_spark.queries.mgsketch import _MG_B, _MG_W

    return _mg_stream_oracle_sql(lo=_MG_B - _MG_W)



QUERIES = {
    "streaming_incremental_stats": streaming_incremental_stats,
    "streaming_windowed_counts": streaming_windowed_counts,
    "streaming_dedup_keys": streaming_dedup_keys,
    "streaming_session_stats": streaming_session_stats,
    "streaming_attribution_join": streaming_attribution_join,
    "streaming_cms_cells": streaming_cms_cells,
    "streaming_hll_registers": streaming_hll_registers,
    "streaming_kmv_sketch": streaming_kmv_sketch,
    "streaming_quantile_sketch": streaming_quantile_sketch,
    "streaming_heavy_hitters": streaming_heavy_hitters,
    "streaming_heavy_hitters_windowed": streaming_heavy_hitters_windowed,
    "streaming_pricing_summary": streaming_pricing_summary,
    "streaming_running_stats": streaming_running_stats,
    "streaming_lsh_pairs": streaming_lsh_pairs,
    "streaming_curation_keep": streaming_curation_keep,
    "streaming_manifest": streaming_manifest,
}
ORACLES: dict[str, str] = {
    "streaming_incremental_stats": _INCREMENTAL_STATS_SQL,
    "streaming_windowed_counts": _WINDOWED_SQL,
    "streaming_dedup_keys": _DEDUP_KEYS_SQL,
    "streaming_session_stats": _SESSION_STATS_SQL,
    "streaming_attribution_join": _ATTRIBUTION_SQL,
    "streaming_cms_cells": _cms_cells_oracle_sql(),
    "streaming_hll_registers": _hll_registers_oracle_sql(),
    "streaming_kmv_sketch": _kmv_sketch_oracle_sql(),
    "streaming_quantile_sketch": _qsketch_oracle_sql(),
    "streaming_heavy_hitters": _mg_stream_oracle_sql(),
    # the windowed fold over batches [B-W, B) — the batch windowed
    # gate's recursive-CTE core restricted to the window
    "streaming_heavy_hitters_windowed": _mg_windowed_stream_oracle_sql(),
    # the SAME oracle as the batch query — the merged view is bit-equal
    "streaming_pricing_summary": _PRICING_SQL,
    "streaming_running_stats": _RUNNING_STATS_SQL,
    # the SAME oracle as batch minhash_lsh_pairs (single-replay ≡ batch)
    "streaming_lsh_pairs": _lsh_pairs_oracle_sql(),
    # single-replay first-seen-wins rules, fully SQL (batch quality ∧
    # min-doc_id-per-hash ∧ capped band-key match to a smaller doc_id)
    "streaming_curation_keep": _curation_keep_oracle_sql(),
    # single-replay first-seen-wins keep rules rolled up to shards —
    # the incremental twin of batch training_set_manifest
    "streaming_manifest": _manifest_stream_oracle_sql(),
}
