"""Cardinality sketches for corpus statistics: HyperLogLog distinct
counts (Flajolet–Fuchs–Gandouet–Meunier 2007), built entirely from
deterministic integer arithmetic so the DuckDB oracle reproduces the
sketch bit-for-bit.

Why this exists at 100 TB: an exact per-source distinct-token count
(``COUNT(DISTINCT token)``) must shuffle every distinct token of the
corpus to its (source, token) reducer — the shuffle is proportional to
the vocabulary. The HLL register table is partially aggregatable: the
map side collapses each partition to at most ``m`` rows per source
(64 here) before anything crosses the wire, so the shuffle volume is
O(sources · m) no matter how many tokens feed it — the same shape as
the count-min sketch in :mod:`trx_spark.queries.curation`.

Reference anchor: the reference engine keeps per-run distinct counts of
scan points / delays driver-side (trx/dataReduction.py:120-140 builds
``np.unique`` tables in memory); this is the sketch that replaces that
pattern when the key space no longer fits one node.

Determinism notes (the oracle-parity contract):

- token → id is the shared char-fold hash (:func:`textdata._tok_hash`);
  the spread hash is one affine map mod the Mersenne prime — pure
  BIGINT math in both engines.
- the register index is the low 6 bits, the rank input the high 25;
  rank-of-first-set-bit is ``26 − bitlength(w)`` with bitlength taken
  as ``length(bin(w))`` — Spark's ``bin`` and DuckDB's ``bin`` both
  print minimal binary strings, asserted equal in tests.
- the harmonic denominator is accumulated as exact powers of two in a
  BIGINT (``2^(30−rho)``), so the only float op is the final constant
  division — one IEEE divide of exact integers, identical everywhere.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import dlit
from trx_spark.queries.curation import _token_stream
from trx_spark.queries.textdata import _P, _TOKEN_RE, _tok_hash, _tok_hash_sql
from trx_spark.tables import load_table

# m = 2^6 = 64 registers: ±13 % standard error — the gate checks the
# CONSTRUCTION bit-exactly, production raises p for tighter error.
_HLL_P_BITS = 6
_HLL_M = 1 << _HLL_P_BITS          # 64
_HLL_WBITS = 31 - _HLL_P_BITS      # 25 rank-input bits (h < 2^31)
_HLL_A, _HLL_B = 48271, 11213      # spread hash (Lehmer multiplier)
_HLL_ALPHA = 0.709                 # alpha_64 from the HLL paper
# estimate = alpha·m² / Σ 2^-rho ; we accumulate Σ 2^(30-rho) exactly in
# a BIGINT, so the numerator carries the matching 2^30 scale. Single
# precomputed double literal → both engines parse the identical value.
_HLL_NUM = _HLL_ALPHA * float(_HLL_M * _HLL_M) * float(1 << 30)

# Small-range correction (the raw estimator reads ~2× high when
# n ≲ m): Flajolet's linear-counting branch E = m·ln(m/V) with V =
# number of zero registers. V is an integer in 1..m, so the ln — the
# one transcendental the parity gate cannot trust across libm
# implementations — is a 64-entry CONSTANT table precomputed in Python
# and embedded verbatim in both engines (repr round-trips doubles, so
# each engine indexes the bit-identical constant).
_LC_TABLE = [float(_HLL_M) * _math.log(_HLL_M / v) for v in range(1, _HLL_M + 1)]
_LC_THRESHOLD = 2.5 * _HLL_M  # use linear counting below this raw estimate

_LC_TABLE_SQL = "[" + ", ".join(dlit(v) for v in _LC_TABLE) + "]"


def hll_register_cols(token_col) -> tuple:
    """(reg, wv) columns for a token column — the single definition of
    the register construction, shared by the batch query and the
    streaming twin (streaming/sketch.py) so the two cannot drift."""
    tid = _tok_hash(token_col)
    h = (F.lit(_HLL_A) * tid + F.lit(_HLL_B)) % F.lit(_P)
    reg = F.floor(h % _HLL_M).cast("long")
    wv = F.floor(h / F.lit(float(_HLL_M))).cast("long")
    return reg, wv


def hll_rho(wv_col):
    """rank-of-first-set-bit from the 25-bit rank input column."""
    return F.when(wv_col == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(wv_col))
    )


def hll_rr_sql(extra_cols: str = "") -> str:
    """The hashed→(reg, wv) SQL fragment (DuckDB), textually parallel
    to :func:`hll_register_cols` — ``extra_cols`` like ``"source, "``
    threads grouping columns through. Expects a CTE named ``ts`` with
    a ``token`` column in scope."""
    return f"""hashed AS (
  SELECT {extra_cols}({_HLL_A} * {_tok_hash_sql('token')} + {_HLL_B}) % {_P} AS h
  FROM ts
),
rr AS (
  SELECT {extra_cols}CAST(FLOOR(h % {_HLL_M}) AS BIGINT) AS reg,
         CAST(FLOOR(h / {float(_HLL_M)!r}) AS BIGINT) AS wv
  FROM hashed
)"""


_HLL_RHO_SQL = (
    f"CASE WHEN wv = 0 THEN {_HLL_WBITS + 1} "
    f"ELSE {_HLL_WBITS + 1} - length(bin(wv)) END"
)


def hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality: HLL estimate next to the
    exact count (the exact side exists to exhibit the sketch's error —
    a production pipeline keeps only the register aggregation).

    Output: (source, n_registers_hit, harmonic_denom, hll_raw,
    hll_estimate, exact_distinct).

    Plan shape: token stream → register/rank projection (map-side) →
    partial-aggregatable MAX per (source, register) — ≤ 64 rows per
    source per partition cross the shuffle — → per-source fold of the
    64 registers. The exact branch is the classic two-phase distinct
    (group on (source, token) then count), the very shuffle the sketch
    avoids."""
    ts = _token_stream(spark, sf_dir)  # (doc_id, source, token), memoized
    reg, wv = hll_register_cols(F.col("token"))
    regs = (
        ts.select("source", reg.alias("reg"), wv.alias("wv"))
        .withColumn("rho", hll_rho(F.col("wv")))
        .groupBy("source", "reg")
        .agg(F.max("rho").alias("rmax"))
    )
    per_src = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_registers_hit"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - rmax AS INT))")
        ).alias("s_hit"),
    )
    denom = (
        F.col("s_hit")
        + (F.lit(_HLL_M).cast("long") - F.col("n_registers_hit"))
        * F.lit(1 << 30).cast("long")
    ).alias("harmonic_denom")
    sk = (
        per_src.select(
            "source",
            F.col("n_registers_hit").cast("long").alias("n_registers_hit"),
            denom,
        )
        .withColumn("hll_raw", F.lit(_HLL_NUM) / F.col("harmonic_denom").cast("double"))
        .withColumn("n_zero", F.lit(_HLL_M).cast("long") - F.col("n_registers_hit"))
        .withColumn(
            "hll_estimate",
            F.when(
                (F.col("hll_raw") <= F.lit(_LC_THRESHOLD)) & (F.col("n_zero") > 0),
                F.element_at(
                    F.array(*[F.lit(v) for v in _LC_TABLE]),
                    F.col("n_zero").cast("int"),
                ),
            ).otherwise(F.col("hll_raw")),
        )
    )
    exact = ts.groupBy("source").agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    return sk.join(exact, "source").select(
        "source",
        "n_registers_hit",
        "harmonic_denom",
        "hll_raw",
        "hll_estimate",
        "exact_distinct",
    )


_HLL_SQL = f"""
WITH ts AS (
  SELECT source, s.token
  FROM (SELECT source, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents) t,
       UNNEST(toks) AS s(token)
),
{hll_rr_sql('source, ')},
regs AS (
  SELECT source, reg,
         MAX({_HLL_RHO_SQL}) AS rmax
  FROM rr GROUP BY source, reg
),
per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
         CAST(CAST(SUM(CAST(1 AS BIGINT) << CAST(30 - rmax AS INTEGER)) AS BIGINT) AS BIGINT) AS s_hit
  FROM regs GROUP BY source
),
sk AS (
  SELECT source, n_registers_hit,
         s_hit + (CAST({_HLL_M} AS BIGINT) - n_registers_hit) * CAST({1 << 30} AS BIGINT)
           AS harmonic_denom
  FROM per_src
),
exact AS (
  SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct
  FROM ts GROUP BY source
),
est AS (
  SELECT source, n_registers_hit, harmonic_denom,
         CAST({dlit(_HLL_NUM)} AS DOUBLE) / CAST(harmonic_denom AS DOUBLE) AS hll_raw,
         CAST({_HLL_M} AS BIGINT) - n_registers_hit AS n_zero
  FROM sk
)
SELECT est.source, est.n_registers_hit, est.harmonic_denom, est.hll_raw,
       CASE WHEN est.hll_raw <= CAST({_LC_THRESHOLD!r} AS DOUBLE) AND est.n_zero > 0
            THEN list_extract({_LC_TABLE_SQL}, CAST(est.n_zero AS INTEGER))
            ELSE est.hll_raw END AS hll_estimate,
       exact.exact_distinct
FROM est JOIN exact USING (source)
"""


# ---------------------------------------------------------------------
# Histogram quantile sketch (per-source length distribution)
# ---------------------------------------------------------------------

# Fixed-width histogram: bin = min(floor(n_chars / W), CAP). The
# per-(source, bin) count is partially aggregatable with AT MOST
# CAP+1 rows per source per partition crossing the shuffle — the
# mergeable-summary shape (Greenwald–Khanna / t-digest territory, done
# here with the simplest deterministic member of the family). The
# EXACT percentile carried alongside funnels every value of a source
# through its reducer — the contrast is the query's point, as with the
# HLL above.
_HIST_W = 64
_HIST_CAP = 255          # bins ≥ CAP clamp: bounded state by construction
_QUANTILES = (0.5, 0.9, 0.99)


def doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles: histogram-sketch estimate
    (upper bin edge — a ≤ W-char overestimate) next to the exact
    interpolated percentile.

    Output: (source, n_docs, p50_sketch, p50_exact, p90_sketch,
    p90_exact, p99_sketch, p99_exact)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    bins = (
        docs.select(
            "source",
            F.least(
                F.floor(F.col("n_chars") / F.lit(float(_HIST_W))).cast("long"),
                F.lit(_HIST_CAP).cast("long"),
            ).alias("bin"),
        )
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.withColumn("cum", F.sum("c").over(wcum))
    totals = bins.groupBy("source").agg(F.sum("c").alias("n_docs"))
    j = cum.join(totals, "source")
    edge = (F.col("bin") + 1) * _HIST_W
    sketch_aggs = []
    for p in _QUANTILES:
        k = F.ceil(F.lit(p) * F.col("n_docs").cast("double")).cast("long")
        tag = str(int(p * 100))
        sketch_aggs.append(
            F.min(F.when(F.col("cum") >= k, edge)).alias(f"p{tag}_sketch")
        )
    sk = j.groupBy("source", "n_docs").agg(*sketch_aggs)
    exact_aggs = [
        F.expr(f"percentile(n_chars, {p!r})").alias(f"p{int(p * 100)}_exact")
        for p in _QUANTILES
    ]
    exact = docs.groupBy("source").agg(*exact_aggs)
    cols = ["source", "n_docs"]
    for p in _QUANTILES:
        tag = str(int(p * 100))
        cols += [f"p{tag}_sketch", f"p{tag}_exact"]
    return sk.join(exact, "source").select(*cols)


def _q_sketch_sql(p: float) -> str:
    tag = str(int(p * 100))
    return (
        f"MIN(CASE WHEN cum >= CAST(CEIL(CAST({p!r} AS DOUBLE) * "
        f"CAST(n_docs AS DOUBLE)) AS BIGINT) "
        f"THEN (bin + 1) * {_HIST_W} END) AS p{tag}_sketch"
    )


_DOCLEN_SQL = f"""
WITH bins AS (
  SELECT source,
         LEAST(CAST(FLOOR(n_chars / {float(_HIST_W)!r}) AS BIGINT),
               CAST({_HIST_CAP} AS BIGINT)) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT source, bin, c,
         SUM(c) OVER (PARTITION BY source ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM bins
),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs FROM bins GROUP BY source),
sk AS (
  SELECT cum.source, totals.n_docs,
         {', '.join(_q_sketch_sql(p) for p in _QUANTILES)}
  FROM cum JOIN totals USING (source)
  GROUP BY cum.source, totals.n_docs
),
exact AS (
  SELECT source,
         {', '.join(f'quantile_cont(n_chars, CAST({p!r} AS DOUBLE)) AS p{int(p * 100)}_exact' for p in _QUANTILES)}
  FROM documents GROUP BY source
)
SELECT sk.source, sk.n_docs,
       {', '.join(f'sk.p{int(p * 100)}_sketch, exact.p{int(p * 100)}_exact' for p in _QUANTILES)}
FROM sk JOIN exact USING (source)
"""


# ---------------------------------------------------------------------
# KMV (k-minimum-values) theta sketches: distinct SET OPERATIONS
# (Bar-Yossef et al. 2002; Beyer et al., "On synopses for distinct-
# value estimation under multiset operations", SIGMOD 2007 — the
# Apache DataSketches theta family).  HLL answers "how many distinct",
# but cannot intersect two sketches without inclusion-exclusion error
# blow-up; a KMV sketch supports union, intersection and Jaccard
# directly: keep the K smallest distinct hash values per set, combine
# pairs by re-taking the K smallest of the union (theta = the K-th
# smallest), estimate |union| = (K-1)·P/theta and Jaccard = (members
# of both sketches among those K) / K.
#
# Scale shape: the per-source sketch build is the one vocabulary-sized
# stage (distinct (source, h) then the K smallest per source — the
# same shuffle the exact distinct pays; a production build replaces it
# with per-partition K-truncated merges, which need a custom JVM
# aggregator).  Everything pairwise then runs on O(sources · K) rows —
# the quadratic is in the number of SOURCES, each pair costing K, no
# matter how many tokens fed the sketches.  The exact columns exist to
# exhibit the estimator error (the hll_distinct_tokens pattern).
# ---------------------------------------------------------------------

_KMV_K = 128
# Lehmer spread of the token id into [0, P).  Collision assumption: the
# not-full-sketch branch treats k_used (distinct hash count) as the
# EXACT union, which is off by one per hash collision between distinct
# bigrams under the affine map into P = 2^31−1.  Safe while the
# distinct-value count per source pair stays ≪ √P ≈ 46k (birthday
# bound; current SFs have ~10³ distinct bigrams per source, collision
# probability < 10⁻⁵ — tests/test_kmv.py's equality assert relies on
# this).  At vocabularies approaching √P, widen the hash instead.
_KMV_A, _KMV_B = 16807, 17
_KMV_UNION_NUM = float((_KMV_K - 1) * _P)  # (K-1)·P, exact in a double


def _source_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (source, bigram) table, memoized: the only corpus-sized
    stage of the KMV query — ~sources·vocab rows after the distinct, so
    everything downstream is bounded."""
    def build():
        from trx_spark.queries.curation import _toks_base

        base = _toks_base(spark, sf_dir)
        n = F.size(F.col("toks"))
        # gated on n >= 2 — sequence(1, 0) descends in Spark (the
        # _shingled footgun); DuckDB's range(1, n) is empty there
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.array_join(F.slice(F.col("toks"), i, 2), " "),
            ),
        )
        return (
            base.select("source", F.explode(bigrams).alias("token"))
            .distinct()
            .localCheckpoint()
        )

    return memo("source_bigrams", (spark, sf_dir), build)


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-BIGRAM overlap between document sources from
    K-minimum-values sketches, next to the exact overlap.  Bigrams
    rather than unigrams so the value space (~700 distinct per source
    here) actually fills the K=128 sketches and the estimator branch
    is exercised; the construction is value-space-agnostic.

    Output per source pair (src_a < src_b): k_used, theta, n_common
    (sketch members in both sets), union_est / jaccard_est / inter_est
    (the KMV estimators; exact when the combined sketch is not full),
    exact_union, exact_jaccard."""
    toks = _source_bigrams(spark, sf_dir)
    sh = toks.select(
        "source",
        ((_tok_hash(F.col("token")) * _KMV_A + _KMV_B) % _P).alias("h"),
    ).distinct()
    wk = Window.partitionBy("source").orderBy("h")
    sk = (
        sh.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
        .localCheckpoint()  # O(sources·K) rows feed every pair below
    )
    srcs = sk.select("source").distinct()
    # explicit broadcast: the ≤|sources|-row dim self-pairs on an
    # inequality — without the hint an auto-broadcast-off planner (the
    # 100 TB regime the plan audit simulates) degrades this to a
    # CartesianProduct of two exchanges instead of a tiny nested loop
    pairs = (
        srcs.alias("x")
        .join(F.broadcast(srcs.alias("y")), F.col("x.source") < F.col("y.source"))
        .select(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
    )
    ra = pairs.join(
        sk.withColumnRenamed("source", "src_a"), "src_a"
    ).select("src_a", "src_b", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    rb = pairs.join(
        sk.withColumnRenamed("source", "src_b"), "src_b"
    ).select("src_a", "src_b", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    u = (
        ra.unionAll(rb)
        .groupBy("src_a", "src_b", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("h")
    kept = u.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") <= _KMV_K
    )
    sp = kept.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("h").alias("theta"),
        F.sum(
            F.when((F.col("ia") == 1) & (F.col("ib") == 1), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("n_common"),
    )
    union_est = F.when(
        F.col("k_used") == _KMV_K,
        F.lit(_KMV_UNION_NUM) / F.col("theta").cast("double"),
    ).otherwise(F.col("k_used").cast("double"))
    jac_est = F.col("n_common").cast("double") / F.col("k_used").cast("double")
    # exact side: per-source distinct counts + pairwise common tokens
    ecnt = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ea, eb = toks.alias("ea"), toks.alias("eb")
    ecommon = (
        ea.join(
            eb,
            (F.col("ea.token") == F.col("eb.token"))
            & (F.col("ea.source") < F.col("eb.source")),
        )
        .groupBy(
            F.col("ea.source").alias("src_a"),
            F.col("eb.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common_exact"))
    )
    na = ecnt.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = ecnt.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    exact_union = F.col("n_a") + F.col("n_b") - F.col("nce")
    return (
        sp.withColumn("union_est", union_est)
        .withColumn("jaccard_est", jac_est)
        .withColumn("inter_est", F.col("jaccard_est") * F.col("union_est"))
        .join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .join(F.broadcast(ecommon), ["src_a", "src_b"], "left")
        .withColumn("nce", F.coalesce(F.col("n_common_exact"), F.lit(0)))
        .select(
            "src_a",
            "src_b",
            "k_used",
            "theta",
            "n_common",
            "union_est",
            "jaccard_est",
            "inter_est",
            exact_union.alias("exact_union"),
            (
                F.col("nce").cast("double") / exact_union.cast("double")
            ).alias("exact_jaccard"),
        )
    )


_KMV_SQL = f"""
WITH toks AS MATERIALIZED (
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
sk AS MATERIALIZED (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh
  ) WHERE rn <= {_KMV_K}
),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT x.source AS src_a, y.source AS src_b
  FROM srcs x JOIN srcs y ON x.source < y.source
),
u AS (
  SELECT src_a, src_b, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
    SELECT p.src_a, p.src_b, s.h, 1 AS ia, 0 AS ib
    FROM pairs p JOIN sk s ON s.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, s.h, 0 AS ia, 1 AS ib
    FROM pairs p JOIN sk s ON s.source = p.src_b
  ) GROUP BY 1, 2, 3
),
kept AS (
  SELECT * FROM (
    SELECT u.*,
           ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= {_KMV_K}
),
sp AS (
  SELECT src_a, src_b,
         CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(MAX(h) AS BIGINT) AS theta,
         CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_common
  FROM kept GROUP BY 1, 2
),
ecnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1),
ecommon AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common_exact
  FROM toks a JOIN toks b
    ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sp.src_a, sp.src_b, sp.k_used, sp.theta, sp.n_common,
  CASE WHEN sp.k_used = {_KMV_K}
       THEN CAST({dlit(_KMV_UNION_NUM)} AS DOUBLE) / CAST(sp.theta AS DOUBLE)
       ELSE CAST(sp.k_used AS DOUBLE) END AS union_est,
  CAST(sp.n_common AS DOUBLE) / CAST(sp.k_used AS DOUBLE) AS jaccard_est,
  (CAST(sp.n_common AS DOUBLE) / CAST(sp.k_used AS DOUBLE))
    * (CASE WHEN sp.k_used = {_KMV_K}
            THEN CAST({dlit(_KMV_UNION_NUM)} AS DOUBLE)
                   / CAST(sp.theta AS DOUBLE)
            ELSE CAST(sp.k_used AS DOUBLE) END) AS inter_est,
  ca.n + cb.n - COALESCE(e.n_common_exact, 0) AS exact_union,
  CAST(COALESCE(e.n_common_exact, 0) AS DOUBLE)
    / CAST(ca.n + cb.n - COALESCE(e.n_common_exact, 0) AS DOUBLE)
    AS exact_jaccard
FROM sp
JOIN ecnt ca ON sp.src_a = ca.source
JOIN ecnt cb ON sp.src_b = cb.source
LEFT JOIN ecommon e ON sp.src_a = e.src_a AND sp.src_b = e.src_b
"""


# ---------------------------------------------------------------------
# Mergeable QUANTILE sketch: deterministic hash-level sampling (the
# sampler component of KLL — Karnin/Lang/Liberty, FOCS 2016 — in the
# Gibbons distinct-sampling discipline).  Each row's LEVEL is the
# trailing-zero count of a deterministic hash of its unique key, so
# P(level ≥ j) ≈ 2^-j; the sketch at level L is every row whose level
# ≥ L (each standing for 2^L rows), and the kept level is the SMALLEST
# L whose survivor count fits the capacity K.  Rank of value v is then
# estimated as 2^L · |{kept ≤ v}|.
#
# Why this member of the KLL/t-digest family: the kept set is a pure
# function of the input MULTISET — S_{L'} ⊆ S_L for L' ≥ L, so merging
# per-partition sketches (union the survivors, re-select the level
# starting at max of the partial levels) yields BIT-FOR-BIT the
# one-shot sketch of the concatenated data.  A compactor-chain KLL or a
# t-digest is insertion-order-dependent, which the engine's oracle
# discipline (streamed ≡ batch ≡ DuckDB, hash-checked) cannot admit.
# The price is the sampler's O(n/√K) rank error instead of KLL's
# O(n/K) — exhibited, not hidden: the gate output carries the measured
# rank error next to the exact quantiles, and the rank-error-bound test
# pins it under 4·√(n·2^L).
#
# Scale shape: the level histogram is partially aggregatable (≤ 32 rows
# per group per partition cross the shuffle); level selection is a
# ≤ 32-row-per-group fold; the survivor filter is a map with a
# broadcast ≤|groups|-row level table.  The kept set is ≤ K rows per
# group BY CONSTRUCTION, so every downstream window is bounded.  The
# EXACT side (the error exhibit, as in hll_distinct_tokens) pays the
# per-(group, value) histogram — the shuffle the sketch avoids.
# Capacity note for 100 TB: h < 2^31 caps the level at 31, so one group
# overflows K=256 only past K·2^31 ≈ 5·10^11 rows; production raises
# the hash width (the construction is width-agnostic).
# ---------------------------------------------------------------------

_QS_K = 256
_QS_A, _QS_B = 69621, 113  # Lehmer multiplier (public constant) + offset
_QS_JMAX = 31              # h = 0 sentinel level (h < 2^31 → tzc ≤ 30)
_QS_PS = (0.5, 0.9, 0.99)

# trailing-zero count via the lowest-set-bit trick: h & -h isolates the
# lowest set bit, whose minimal-binary length minus one is the count —
# bin() prints minimal binary in BOTH engines (asserted by the HLL
# tests above)
_QS_TZC_SQL = (
    f"CASE WHEN h = 0 THEN {_QS_JMAX} "
    f"ELSE LEAST(length(bin(h & -h)) - 1, {_QS_JMAX}) END"
)


def qs_rows(df: DataFrame, key_col, value_col, group_col) -> DataFrame:
    """(g, cv, h, tzc) projection — the single definition of the
    hash/level construction, shared by the batch gate, the streaming
    partial (streaming/sketch.py) and the merge, so they cannot
    drift.  ``cv`` must already be an integer rank-space value.

    The key routes through the shared char-fold string hash before the
    affine spread (the HLL/KMV discipline): an affine map alone is
    LINEAR in the key until the modulus wraps, so keys in an
    arithmetic progression would share low-bit structure and starve
    whole levels (pinned by the synthetic-frame test)."""
    h = (
        _tok_hash(key_col.cast("string")) * F.lit(_QS_A) + F.lit(_QS_B)
    ) % F.lit(_P)
    return df.select(
        group_col.alias("g"), value_col.alias("cv"), h.alias("h")
    ).withColumn("tzc", F.expr(_QS_TZC_SQL))


def qs_select_level(rows: DataFrame, floor_df: DataFrame | None = None) -> DataFrame:
    """Per-group smallest level whose survivor count ≤ K: (g, lvl).

    ``floor_df`` (g, lfloor) starts the scan at a floor level — the
    MERGE path passes max of the partial levels, where the candidate
    union's counts above the floor equal the full data's counts, which
    is what makes merge ≡ one-shot exact (pinned by the tests)."""
    hist = rows.groupBy("g", "tzc").agg(F.count(F.lit(1)).alias("c"))
    wdesc = (
        Window.partitionBy("g")
        .orderBy(F.desc("tzc"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cge = hist.withColumn("cge", F.sum("c").over(wdesc))
    lvl = F.coalesce(
        F.max(F.when(F.col("cge") > _QS_K, F.col("tzc") + 1)), F.lit(0).cast("long")
    )
    sel = cge.groupBy("g").agg(lvl.cast("long").alias("lvl"))
    if floor_df is not None:
        sel = sel.join(F.broadcast(floor_df), "g").select(
            "g", F.greatest("lvl", "lfloor").alias("lvl")
        )
    return sel


def qs_kept(rows: DataFrame, floor_df: DataFrame | None = None) -> DataFrame:
    """Survivor set (g, lvl, cv, h): ≤ K rows per group by
    construction, each standing for 2^lvl input rows."""
    sel = qs_select_level(rows, floor_df)
    return rows.join(F.broadcast(sel), "g").filter(
        F.col("tzc") >= F.col("lvl")
    ).select("g", "lvl", "cv", "h")


def _qs_weight():
    return F.expr("shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))")


def quantile_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles (integer cents) from the
    hash-level sampling sketch, next to the exact rank quantiles and
    the sketch's MEASURED rank error.

    Output per event_type: n (exact count), level, k_used, n_est
    (= k_used·2^level), and for p ∈ {50, 90, 99}: p{q}_est (sketch),
    p{q}_exact (exact lower quantile), p{q}_rank_err
    (|rank(p_est) − ⌈p·n⌉|, the estimator's true rank miss)."""
    ev = load_table(spark, sf_dir, "events")
    rows = qs_rows(
        ev,
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("long"),
        F.col("event_type"),
    ).localCheckpoint()  # one scan feeds sketch + exact branches
    kept = qs_kept(rows)
    kc = kept.groupBy("g", "lvl", "cv").agg(F.count(F.lit(1)).alias("kc"))
    wval = (
        Window.partitionBy("g")
        .orderBy("cv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kcum = kc.withColumn("cumk", F.sum("kc").over(wval))
    ksum = kc.groupBy("g").agg(F.sum("kc").alias("k_used"))
    kj = kcum.join(F.broadcast(ksum), "g").withColumn(
        "n_est", F.col("k_used") * _qs_weight()
    )
    est_aggs = [
        F.max("lvl").alias("level"),
        F.max("k_used").alias("k_used"),
        F.max("n_est").alias("n_est"),
    ]
    for p in _QS_PS:
        tag = str(int(p * 100))
        tgt = F.ceil(F.lit(p) * F.col("n_est").cast("double")).cast("long")
        est_aggs.append(
            F.min(
                F.when(F.col("cumk") * _qs_weight() >= tgt, F.col("cv"))
            ).alias(f"p{tag}_est")
        )
    est = kj.groupBy("g").agg(*est_aggs)
    eh = rows.groupBy("g", "cv").agg(F.count(F.lit(1)).alias("ec"))
    ecum = eh.withColumn("cume", F.sum("ec").over(wval))
    tot = rows.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    ej = ecum.join(F.broadcast(tot), "g")
    exact_aggs = [F.max("n").alias("n")]
    for p in _QS_PS:
        tag = str(int(p * 100))
        tgt = F.ceil(F.lit(p) * F.col("n").cast("double")).cast("long")
        exact_aggs.append(
            F.min(F.when(F.col("cume") >= tgt, F.col("cv"))).alias(
                f"p{tag}_exact"
            )
        )
    exact = ej.groupBy("g").agg(*exact_aggs)
    rk_aggs = [
        F.max(
            F.when(F.col("cv") == F.col(f"p{int(p * 100)}_est"), F.col("cume"))
        ).alias(f"r{int(p * 100)}")
        for p in _QS_PS
    ]
    rk = ej.join(F.broadcast(est), "g").groupBy("g").agg(*rk_aggs)
    out_cols = [
        F.col("g").alias("event_type"),
        F.col("n"),
        F.col("level"),
        F.col("k_used"),
        F.col("n_est"),
    ]
    for p in _QS_PS:
        tag = str(int(p * 100))
        tgt = F.ceil(F.lit(p) * F.col("n").cast("double")).cast("long")
        out_cols += [
            F.col(f"p{tag}_est"),
            F.col(f"p{tag}_exact"),
            F.abs(F.col(f"r{tag}") - tgt).alias(f"p{tag}_rank_err"),
        ]
    return (
        est.join(F.broadcast(exact), "g").join(F.broadcast(rk), "g").select(*out_cols)
    )


def _qs_ceil_sql(p: float, n_expr: str) -> str:
    return (
        f"CAST(CEIL(CAST({p!r} AS DOUBLE) * CAST({n_expr} AS DOUBLE)) AS BIGINT)"
    )


_QSKETCH_SQL = f"""
WITH rows_ AS (
  SELECT event_type AS g,
         CAST(ROUND(value * 100) AS BIGINT) AS cv,
         ({_tok_hash_sql("CAST(event_id AS VARCHAR)")} * {_QS_A}
          + {_QS_B}) % {_P} AS h
  FROM events
),
lv AS (
  SELECT g, cv, h, {_QS_TZC_SQL} AS tzc FROM rows_
),
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
  SELECT lv.g, lsel.lvl, lv.cv
  FROM lv JOIN lsel ON lv.g = lsel.g
  WHERE lv.tzc >= lsel.lvl
),
kc AS (
  SELECT g, lvl, cv, CAST(COUNT(*) AS BIGINT) AS kc FROM kept GROUP BY 1, 2, 3
),
kcum AS (
  SELECT g, lvl, cv, kc,
         CAST(SUM(kc) OVER (PARTITION BY g ORDER BY cv
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumk
  FROM kc
),
ksum AS (SELECT g, CAST(SUM(kc) AS BIGINT) AS k_used FROM kc GROUP BY g),
kj AS (
  SELECT kcum.g, kcum.cv, kcum.cumk, kcum.lvl, ksum.k_used,
         ksum.k_used * (CAST(1 AS BIGINT) << CAST(kcum.lvl AS INTEGER)) AS n_est
  FROM kcum JOIN ksum ON kcum.g = ksum.g
),
est AS (
  SELECT g, MAX(lvl) AS level, MAX(k_used) AS k_used, MAX(n_est) AS n_est,
         {', '.join(
            f"MIN(CASE WHEN cumk * (CAST(1 AS BIGINT) << CAST(lvl AS INTEGER))"
            f" >= {_qs_ceil_sql(p, 'n_est')} THEN cv END) AS p{int(p * 100)}_est"
            for p in _QS_PS)}
  FROM kj GROUP BY g
),
eh AS (SELECT g, cv, CAST(COUNT(*) AS BIGINT) AS ec FROM lv GROUP BY 1, 2),
ecum AS (
  SELECT g, cv, CAST(SUM(ec) OVER (PARTITION BY g ORDER BY cv
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume
  FROM eh
),
tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM lv GROUP BY g),
ej AS (SELECT ecum.g, ecum.cv, ecum.cume, tot.n FROM ecum JOIN tot ON ecum.g = tot.g),
exact AS (
  SELECT g, MAX(n) AS n,
         {', '.join(
            f"MIN(CASE WHEN cume >= {_qs_ceil_sql(p, 'n')} THEN cv END)"
            f" AS p{int(p * 100)}_exact" for p in _QS_PS)}
  FROM ej GROUP BY g
),
rk AS (
  SELECT ej.g,
         {', '.join(
            f"MAX(CASE WHEN ej.cv = est.p{int(p * 100)}_est THEN ej.cume END)"
            f" AS r{int(p * 100)}" for p in _QS_PS)}
  FROM ej JOIN est ON ej.g = est.g GROUP BY ej.g
)
SELECT est.g AS event_type, exact.n, est.level, est.k_used, est.n_est,
       {', '.join(
          f"est.p{int(p * 100)}_est, exact.p{int(p * 100)}_exact, "
          f"ABS(rk.r{int(p * 100)} - {_qs_ceil_sql(p, 'exact.n')})"
          f" AS p{int(p * 100)}_rank_err" for p in _QS_PS)}
FROM est JOIN exact ON est.g = exact.g JOIN rk ON est.g = rk.g
"""


QUERIES = {
    "hll_distinct_tokens": hll_distinct_tokens,
    "doclen_quantiles": doclen_quantiles,
    "kmv_source_overlap": kmv_source_overlap,
    "quantile_sketch_events": quantile_sketch_events,
}

ORACLES = {
    "hll_distinct_tokens": _HLL_SQL,
    "doclen_quantiles": _DOCLEN_SQL,
    "kmv_source_overlap": _KMV_SQL,
    "quantile_sketch_events": _QSKETCH_SQL,
}
