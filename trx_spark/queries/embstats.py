"""Embedding-column statistics for ANN/quantizer hygiene (LLM-pipeline
extension; no reference counterpart — the standard preprocessing
readouts behind PCA/whitening/clipping decisions in FAISS-style
pipelines, cf. Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 §V.A).

Three queries over the ``embeddings`` table (``array<float>``, 64-d):

- ``embedding_moment_stats`` — per dimension: count, exact
  fixed-point mean and population std-dev, raw min/max. The inputs to
  standardization and to PQ sub-space balance checks.
- ``embedding_dim_quantiles`` — per dimension: exact interpolated
  p25/p50/p75/p95 (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
  the curriculum-phases precedent). The inputs to outlier clipping.
- ``embedding_covariance`` — the leading ``_COV_DIMS``×``_COV_DIMS``
  block of the covariance matrix via exact fixed-point cross-moments
  (cov = Σxy/n − ΣxΣy/n², every sum an integer). The input to PCA /
  OPQ rotation decisions; the gate hashes a representative block
  because the full 64×64 matrix is the same plan at 32× the tiny
  output size.

Scale design (the 100 TB story):
- All three are explode → partial-aggregatable groupBy with a
  dimension-bounded key space (64 / 64 / 36 groups): the shuffle
  carries per-partition partials only, never rows. The explode is
  map-side (×64 or ×36 row fan-out of a columnar scan, no shuffle).
- The exact-percentile aggregate is the gate formulation; at corpus
  scale the production spelling is ``approx_percentile`` (t-digest,
  partial-aggregatable) — the quantile query is the only one whose
  exact form buffers per-group values.
- Fixed-point scale ``exact.EMB_SCALE`` = 1e12: |x| < ~1 for unit-ish embeddings
  → per-row addends ≤ 1e12, giving ~9e6-row-per-group headroom in the
  int64 accumulator at the gate; production uses native double sums.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.exact import EMB_SCALE, dfinal, dsum, sql_dsum, sql_fint
from trx_spark.tables import fan_out_small_scan, load_table

_COV_DIMS = 6  # leading block hashed by the gate (21 pairs)
_QTILES = (0.25, 0.5, 0.75, 0.95)


def _dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dim 1-based, v as double): the exploded dimension
    stream (map-side; matches the oracle's generate_series subscript)."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "v")
    ).select(
        "vec_id",
        (F.col("p") + 1).cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )


def embedding_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension count/mean/std/min/max (mean and std via exact
    fixed-point sums; min/max are raw doubles — no arithmetic)."""
    d = _dims(spark, sf_dir)
    n = F.count(F.lit(1))
    s1 = dsum(F.col("v"), EMB_SCALE)
    s2 = dsum(F.col("v") * F.col("v"), EMB_SCALE)
    var = (s2 - s1 * s1 / n) / n
    return d.groupBy("dim").agg(
        n.alias("n"),
        (s1 / n).alias("mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_pop"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )


_MOMENTS_SQL = f"""
WITH d AS (
  SELECT u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
  FROM embeddings,
       UNNEST(generate_series(1, len(embedding))) AS u(i)
)
SELECT dim,
  CAST(COUNT(*) AS BIGINT) AS n,
  {sql_dsum('v', EMB_SCALE)} / COUNT(*) AS mean,
  sqrt(greatest(
    ({sql_dsum('v * v', EMB_SCALE)}
     - {sql_dsum('v', EMB_SCALE)}
       * {sql_dsum('v', EMB_SCALE)} / COUNT(*)) / COUNT(*),
    CAST(0.0 AS DOUBLE))) AS std_pop,
  MIN(v) AS v_min,
  MAX(v) AS v_max
FROM d GROUP BY dim
"""


def embedding_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension exact interpolated quantiles (clipping inputs)."""
    d = _dims(spark, sf_dir)
    aggs = [
        F.expr(f"percentile(v, {q!r})").alias(f"p{int(q * 100)}")
        for q in _QTILES
    ]
    return d.groupBy("dim").agg(*aggs)


_QTILES_SQL = f"""
WITH d AS (
  SELECT u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
  FROM embeddings,
       UNNEST(generate_series(1, len(embedding))) AS u(i)
)
SELECT dim,
  {", ".join(
    f"quantile_cont(v, CAST({q!r} AS DOUBLE)) AS p{int(q * 100)}"
    for q in _QTILES
  )}
FROM d GROUP BY dim
"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leading _COV_DIMS×_COV_DIMS covariance block (upper
    triangle, i <= j): cov = Σxy/n − (Σx/n)(Σy/n), every sum an exact
    fixed-point integer. Map-side pair explosion (no self-join)."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    pairs = F.expr(
        f"flatten(transform(sequence(1, {_COV_DIMS}), i -> "
        f"transform(sequence(i, {_COV_DIMS}), j -> named_struct("
        f"'i', i, 'j', j, "
        f"'x', CAST(element_at(embedding, i) AS DOUBLE), "
        f"'y', CAST(element_at(embedding, j) AS DOUBLE)))))"
    )
    d = emb.select(F.explode(pairs).alias("p")).select(
        F.col("p.i").cast("long").alias("dim_i"),
        F.col("p.j").cast("long").alias("dim_j"),
        F.col("p.x").alias("x"),
        F.col("p.y").alias("y"),
    )
    n = F.count(F.lit(1))
    sx = dsum(F.col("x"), EMB_SCALE)
    sy = dsum(F.col("y"), EMB_SCALE)
    sxy = dsum(F.col("x") * F.col("y"), EMB_SCALE)
    return d.groupBy("dim_i", "dim_j").agg(
        n.alias("n"),
        (sxy / n - (sx / n) * (sy / n)).alias("cov_pop"),
    )


_COV_SQL = f"""
WITH d AS (
  SELECT a.i AS dim_i, b.j AS dim_j,
         CAST(embedding[a.i] AS DOUBLE) AS x,
         CAST(embedding[b.j] AS DOUBLE) AS y
  FROM embeddings,
       UNNEST(generate_series(1, {_COV_DIMS})) AS a(i),
       UNNEST(generate_series(1, {_COV_DIMS})) AS b(j)
  WHERE b.j >= a.i
)
SELECT dim_i, dim_j,
  CAST(COUNT(*) AS BIGINT) AS n,
  {sql_dsum('x * y', EMB_SCALE)} / COUNT(*)
  - ({sql_dsum('x', EMB_SCALE)} / COUNT(*))
    * ({sql_dsum('y', EMB_SCALE)} / COUNT(*)) AS cov_pop
FROM d GROUP BY dim_i, dim_j
"""


# ---------------------------------------------------------------------
# Johnson-Lindenstrauss sparse random projection (Achlioptas,
# "Database-friendly random projections", JCSS 2003): project 64-d
# embeddings to _JL_DIMS dims with the sparse {+1, 0, -1} matrix drawn
# w.p. {1/6, 2/3, 1/6} — here DERIVED from a deterministic affine-mod
# formula over (in-dim, out-dim) so both engines materialize the
# identical matrix with no stored state. The standard cheap
# dimensionality reduction in front of ANN / clustering at scale.
# ---------------------------------------------------------------------

_JL_DIMS = 16
# sign(i, j) over 1-based dims: h = (1664525·i + 1013904223·j) mod 6
# → 0:+1, 1:-1, else 0 (the 1/6, 1/6, 2/3 Achlioptas masses)
_JL_A, _JL_B = 1664525, 1013904223


def _jl_sign_sql(i: str, j: str) -> str:
    """s(i, j) as a DOUBLE, the same text in Spark and DuckDB."""
    return (
        f"CAST(CASE (CAST({_JL_A} AS BIGINT) * {i} + CAST({_JL_B} AS BIGINT) * {j}) % 6 "
        f"WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS DOUBLE)"
    )


def jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, out_dim, proj): the unscaled sparse JL projection
    Σ_i s(i,j)·x_i as exact fixed-point sums (the √(3/k) factor is a
    constant left to the consumer, keeping the gate integer-exact).
    Entirely map-side: the per-vector fold runs inside one expression,
    rows fan out ×_JL_DIMS with ZERO shuffle."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    term = f"CAST(element_at(embedding, i) AS DOUBLE) * {_jl_sign_sql('i', 'j')}"
    projs = F.expr(
        f"transform(sequence(1, {_JL_DIMS}), j -> named_struct("
        f"'j', CAST(j AS BIGINT), "
        f"'acc', aggregate(sequence(1, size(embedding)), 0L, (acc, i) -> "
        f"acc + {sql_fint(term, EMB_SCALE)})))"
    )
    return emb.select("vec_id", F.explode(projs).alias("p")).select(
        "vec_id",
        F.col("p.j").alias("out_dim"),
        dfinal(F.col("p.acc"), EMB_SCALE).alias("proj"),
    )


_JL_SQL = f"""
WITH d AS (
  SELECT vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings,
       UNNEST(generate_series(1, len(embedding))) AS u(i)
)
SELECT d.vec_id, CAST(j.j AS BIGINT) AS out_dim,
  {sql_dsum(f"d.x * {_jl_sign_sql('d.i', 'j.j')}", EMB_SCALE)} AS proj
FROM d, UNNEST(generate_series(1, {_JL_DIMS})) AS j(j)
GROUP BY d.vec_id, j.j
"""


# ---------------------------------------------------------------------
# Leading principal component by power iteration (the PCA step behind
# OPQ rotation / whitening decisions; von Mises iteration). The 6×6
# covariance block reduces to ONE aggregate row (count + 6 + 21
# fixed-point sums); the iteration then runs entirely in scalar IEEE
# expressions on that single row — matrix-vector products and the
# normalizing sqrt are EXPLICIT left-associated term chains (never a
# SUM aggregate, whose accumulation order is engine-dependent), so
# Spark and DuckDB walk bit-identical expression trees and the gate
# hashes an actual eigenvector. Corpus size touches only the one
# partial-aggregatable sum pass.
#
# Convergence caveat: power iteration closes on the principal
# direction at rate (λ2/λ1)^k, so on near-isotropic data the
# _PCA_ITERS-round vector is a deterministic (and gate-hashed)
# APPROXIMATION; with a real dominant component it is converged to
# ~1e-9 (tests/test_textquality.py pins this against numpy.eigh on a
# gapped fixture). More rounds = longer unroll in BOTH engines —
# constant cost in the data, linear in the expression text.
# ---------------------------------------------------------------------

_PCA_ITERS = 12


def _pca_cov_expr(i: int, j: int, engine: str) -> str:
    """cov(i,j) as a text expression over the named sum columns
    (identical string for both engines — s_* and n are column refs)."""
    a, b = min(i, j), max(i, j)
    return (
        f"(s_{a}_{b} / n - (s_{a} / n) * (s_{b} / n))"
    )


def _pca_round_exprs(d: int):
    """(w exprs, norm expr, v exprs) as text over c_*_*, v_*."""
    ws = {
        i: " + ".join(f"c_{i}_{j} * v_{j}" for j in range(1, d + 1))
        for i in range(1, d + 1)
    }
    norm = "sqrt(" + " + ".join(f"w_{i} * w_{i}" for i in range(1, d + 1)) + ")"
    return ws, norm


def pca_leading_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (iters, eigenvalue, v_1..v_6) — the leading
    eigenvector of the _COV_DIMS covariance block after _PCA_ITERS
    power-iteration rounds from e1, plus the Rayleigh quotient.

    Plan shape: the only data-proportional work is ONE
    partial-aggregatable pass producing the 1-row moment block
    (count + 6 + 21 fixed-point sums); that bounded row is collected
    and the 6-dim iteration runs in driver Python doubles.  Python
    floats ARE IEEE doubles and the arithmetic below walks the exact
    term order of the oracle's unrolled CTEs (left-associated `+`
    chains, same `/` and `sqrt`), so the result is bit-identical to
    the previous all-in-Catalyst formulation — which built a 25-deep
    Project tower whose optimization + codegen cost ~3.5 s PER CALL at
    any data size (the expression tree, not the data, was the cost)."""
    d = _COV_DIMS
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    xs = {
        i: F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)")
        for i in range(1, d + 1)
    }
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [dsum(xs[i], EMB_SCALE).alias(f"s_{i}") for i in range(1, d + 1)]
    aggs += [
        dsum(xs[i] * xs[j], EMB_SCALE).alias(f"s_{i}_{j}")
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    ]
    row = emb.agg(*aggs).collect()[0].asDict()
    n = row["n"]

    def s(i: int, j: int) -> float:
        a, b = min(i, j), max(i, j)
        return row[f"s_{a}_{b}"]

    # cov(i,j) = s_ij / n - (s_i/n)*(s_j/n) — the exact _pca_cov_expr tree
    c = {
        (i, j): s(i, j) / n - (row[f"s_{i}"] / n) * (row[f"s_{j}"] / n)
        for i in range(1, d + 1)
        for j in range(1, d + 1)
    }
    v = [1.0] + [0.0] * (d - 1)

    def matvec(vec: list[float]) -> list[float]:
        # left-associated term chain, identical to the SQL "+" parse
        out = []
        for i in range(1, d + 1):
            acc = c[(i, 1)] * vec[0]
            for j in range(2, d + 1):
                acc = acc + c[(i, j)] * vec[j - 1]
            out.append(acc)
        return out

    for _ in range(_PCA_ITERS):
        w = matvec(v)
        acc = w[0] * w[0]
        for i in range(1, d):
            acc = acc + w[i] * w[i]
        norm = _math.sqrt(acc)
        v = [wi / norm for wi in w]
    # Rayleigh quotient of the final (unit) vector: λ = v · (C v)
    w = matvec(v)
    lam = v[0] * w[0]
    for i in range(1, d):
        lam = lam + v[i] * w[i]
    return spark.createDataFrame(
        [(int(_PCA_ITERS), float(lam), *[float(x) for x in v])],
        "iters int, eigenvalue double, "
        + ", ".join(f"v_{i} double" for i in range(1, d + 1)),
    )


def _pca_sql() -> str:
    d = _COV_DIMS
    s = EMB_SCALE
    base_cols = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    base_cols += [f"{sql_dsum(f'x{i}', s)} AS s_{i}" for i in range(1, d + 1)]
    base_cols += [
        f"{sql_dsum(f'x{i} * x{j}', s)} AS s_{i}_{j}"
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    ]
    xsel = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}" for i in range(1, d + 1)
    )
    ccols = ", ".join(
        f"{_pca_cov_expr(i, j, 'duckdb')} AS c_{i}_{j}"
        for i in range(1, d + 1)
        for j in range(1, d + 1)
    )
    vinit = ", ".join(
        f"CAST({'1.0' if i == 1 else '0.0'} AS DOUBLE) AS v_{i}"
        for i in range(1, d + 1)
    )
    cnames = ", ".join(
        f"c_{i}_{j}" for i in range(1, d + 1) for j in range(1, d + 1)
    )
    ws, norm = _pca_round_exprs(d)
    wsel = ", ".join(f"{ws[i]} AS w_{i}" for i in range(1, d + 1))
    vsel = ", ".join(f"w_{i} / {norm} AS v_{i}" for i in range(1, d + 1))
    rounds = []
    prev = "p0"
    for r in range(1, _PCA_ITERS + 1):
        rounds.append(f"pw{r} AS (SELECT {cnames}, {wsel} FROM {prev})")
        rounds.append(f"p{r} AS (SELECT {cnames}, {vsel} FROM pw{r})")
        prev = f"p{r}"
    vnames = ", ".join(f"v_{i}" for i in range(1, d + 1))
    lam = " + ".join(f"v_{i} * w_{i}" for i in range(1, d + 1))
    return f"""
WITH x AS (SELECT {xsel} FROM embeddings),
base AS (SELECT {", ".join(base_cols)} FROM x),
p0 AS (SELECT {ccols}, {vinit} FROM base),
{",".join(rounds)},
fin AS (SELECT {cnames}, {vnames}, {wsel} FROM {prev})
SELECT {_PCA_ITERS} AS iters, {lam} AS eigenvalue, {vnames} FROM fin
"""


# ---------------------------------------------------------------------
# Affine int8 quantization (per-dim scale/zero-point)
# ---------------------------------------------------------------------


def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine uint8 quantization of the embedding corpus
    — the storage format a 100-TB vector store actually persists (4×
    smaller than float32, reconstructed as v̂ = vmin + code·scale).

    Per dim: range [vmin, vmax] → scale (vmax−vmin)/255, code =
    ⌊(v−vmin)/scale + ½⌋ clamped to [0,255] (round-half-up spelled as
    floor(+0.5) — bankers' rounding differs between engines, floor
    does not). A constant dimension (scale 0) codes to 0. The gate
    aggregates the full code stream per dim (count, sum, min, max) so
    every single code is pinned without hashing row-level output.

    Plan: one bounded min/max groupBy over the exploded dim stream, a
    broadcast join of the ≤|dims|-row range frame back onto the
    stream, and one census groupBy — two bounded shuffles, map-side
    everything else."""
    d = _dims(spark, sf_dir)
    ranges = d.groupBy("dim").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(255.0)
    code = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / F.lit(255.0))
                    + F.lit(0.5)
                ).cast("int"),
            ),
        )
    )
    return (
        d.join(F.broadcast(ranges), "dim")
        .select("dim", "vmin", "vmax", code.alias("code"))
        .groupBy("dim", "vmin", "vmax")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("code").cast("long")).alias("code_sum"),
            F.min("code").alias("code_min"),
            F.max("code").alias("code_max"),
        )
    )


_INT8_SQL = """
WITH d AS (
  SELECT u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
  FROM embeddings,
       UNNEST(generate_series(1, len(embedding))) AS u(i)
),
ranges AS (
  SELECT dim, MIN(v) AS vmin, MAX(v) AS vmax FROM d GROUP BY dim
),
codes AS (
  SELECT d.dim, vmin, vmax,
    CASE WHEN vmax = vmin THEN 0
         ELSE GREATEST(0, LEAST(255, CAST(FLOOR(
           (v - vmin) / ((vmax - vmin) / CAST(255.0 AS DOUBLE))
           + CAST(0.5 AS DOUBLE)) AS INTEGER)))
    END AS code
  FROM d JOIN ranges USING (dim)
)
SELECT CAST(dim AS BIGINT) AS dim, vmin, vmax,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(code) AS BIGINT) AS code_sum,
  CAST(MIN(code) AS INTEGER) AS code_min,
  CAST(MAX(code) AS INTEGER) AS code_max
FROM codes GROUP BY dim, vmin, vmax
"""

QUERIES = {
    "embedding_moment_stats": embedding_moment_stats,
    "embedding_dim_quantiles": embedding_dim_quantiles,
    "embedding_covariance": embedding_covariance,
    "jl_projection": jl_projection,
    "pca_leading_component": pca_leading_component,
    "embedding_int8_quantization": embedding_int8_quantization,
}

ORACLES = {
    "embedding_moment_stats": _MOMENTS_SQL,
    "embedding_dim_quantiles": _QTILES_SQL,
    "embedding_covariance": _COV_SQL,
    "jl_projection": _JL_SQL,
    "pca_leading_component": _pca_sql(),
    "embedding_int8_quantization": _INT8_SQL,
}
