"""Distributed Lloyd iterations (k-means) for training the IVF coarse
quantizer — the trained upgrade over the deterministic stand-in
codebook in ``queries/similarity.py``.

Spark-first shape (the classic scalable k-means layout):
- the codebook is tiny (k x dim) → broadcast; scoring each vector
  against all k centroids is map-side (broadcast join + one zip_with
  fold per centroid, no per-element shuffle);
- the argmax is ``max(struct(dot, -cid))`` — partial-aggregatable, so
  the k score rows per vector combine map-side before the one shuffle
  on vec_id (no window);
- the centroid update explodes assigned vectors to (cid, pos, x) and
  sums fixed-point integers per (cid, pos) — also partial-
  aggregatable, so the shuffle carries ~k*dim rows per input
  partition, not n*dim.

All arithmetic is fixed-point (floor(x*SCALE) int64 sums), so the
trained centroids and final assignment are bit-identical to the
DuckDB oracle's formulation — order-independent despite the floats.

Empty cells simply drop out of the codebook (documented Lloyd
degeneracy; no re-seeding) — deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trx_spark.exact import EMB_SCALE, array_dot, dfinal, dlit_array, fint, sql_array_dot


def score_cells(
    emb: DataFrame, cents: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, cid, dot) for every vector x centroid — broadcast join,
    map-side folds, no shuffle until the consumer aggregates."""
    return emb.crossJoin(F.broadcast(cents)).select(
        id_col, "cid", array_dot(F.col(vec_col), F.col("cent"), EMB_SCALE).alias("dot")
    )


def argmax_cell(scored: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Best cell per vector (ties -> smallest cid), as a partial-
    aggregatable groupBy max — no window."""
    return (
        scored.groupBy(id_col)
        .agg(F.max(F.struct(F.col("dot"), (-F.col("cid")).alias("ncid"))).alias("m"))
        .select(id_col, (-F.col("m.ncid")).alias("cid"), F.col("m.dot").alias("dot"))
    )


def _update_centroids(
    emb: DataFrame, assign: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    ex = emb.join(assign.select(id_col, "cid"), id_col).select(
        "cid", F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    cent_val = dfinal(F.col("s"), EMB_SCALE) / F.col("n")
    return (
        ex.groupBy("cid", "pos")
        .agg(
            F.sum(fint(F.col("x").cast("double"), EMB_SCALE)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("c", cent_val)
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cent")
        )
    )


def lloyd_centroids(
    emb: DataFrame,
    k: int = 16,
    updates: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Codebook after ``updates`` Lloyd updates (init = the first ``k``
    vectors by id). Returns (cid, cent)."""
    cents = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cent")
    )
    for _ in range(updates):
        assign = argmax_cell(score_cells(emb, cents, id_col, vec_col), id_col)
        cents = _update_centroids(emb, assign, id_col, vec_col)
    return cents


def lloyd_assign(
    emb: DataFrame,
    k: int = 16,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final (id, cid, dot) assignment after ``rounds`` assignment
    steps with ``rounds - 1`` centroid updates between them."""
    cents = lloyd_centroids(emb, k, rounds - 1, id_col, vec_col)
    return argmax_cell(score_cells(emb, cents, id_col, vec_col), id_col)


# ---------------------------------------------------------------------
# Literal-codebook scoring: the codebook is k x dim BY CONSTRUCTION
# (bounded state, like the pca moment block), so instead of broadcast-
# joining a centroid table into the corpus and shuffling n*k score rows
# through a groupBy argmax, collect it once and inline the centroids as
# LITERALS — every score/argmax becomes one map-side projection over
# the corpus, with zero joins and zero shuffles.  The dot expression is
# the identical `exact.array_dot` fold, as `exact.sql_array_dot` text
# with the literal centroid as second operand, and the argmax is
# `array_max` over struct(dot, -cid) — the same struct ordering
# `max(struct(dot, ncid))` uses — so assignments, dots and
# trained centroids stay bit-for-bit equal to the DataFrame path.
# At cluster scale this is the textbook shape: k-means scoring is a
# map-only pass against in-closure centroids; only the centroid UPDATE
# aggregates (partial-aggregated, ~k*dim rows per input partition).
# ---------------------------------------------------------------------


def best_cell_sql(vec_sql: str, cents: list[tuple[int, list[float]]]) -> str:
    """struct(dot, ncid) of the winning centroid as SQL text (ties ->
    smallest cid; array_max's struct ordering == the groupBy max's)."""
    entries = ", ".join(
        f"named_struct('dot', {sql_array_dot(vec_sql, dlit_array(c), EMB_SCALE)}, "
        f"'ncid', CAST({-int(cid)} AS BIGINT))"
        for cid, c in cents
    )
    return f"array_max(array({entries}))"


# Guard on the generated-SQL growth path: the literal codebook text
# grows linearly with k x dim (~30 bytes per double literal; 16x64 is
# ~44 kB).  Above this threshold the literal builders fall back to the
# broadcast-join DataFrame path, which computes bit-identical rows
# (same fixed-point ops — tests/test_kmeans_literal.py pins both the
# equivalence and the fallback), instead of silently handing Catalyst
# a multi-MB expression tree to parse per query.
_LITERAL_SQL_MAX_BYTES = 1 << 20


def _cents_df(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """The collected codebook back as a (cid, cent) LocalRelation —
    build side of the fallback broadcast join."""
    return spark.createDataFrame(
        [(int(cid), [float(v) for v in c]) for cid, c in cents],
        "cid long, cent array<double>",
    )


def assign_literal(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, dot) best-cell assignment, map-side (no join, no
    shuffle) — same rows as argmax_cell(score_cells(emb, cents_df))."""
    sql = best_cell_sql(vec_col, cents)
    if len(sql) > _LITERAL_SQL_MAX_BYTES:
        return argmax_cell(
            score_cells(
                emb, _cents_df(emb.sparkSession, cents), id_col, vec_col
            ),
            id_col,
        )
    return (
        emb.select(id_col, F.expr(sql).alias("_m"))
        .select(
            id_col,
            (-F.col("_m.ncid")).alias("cid"),
            F.col("_m.dot").alias("dot"),
        )
    )


def update_centroids_literal(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd centroid update with the assignment computed IN the
    same map pass (fused: no assign-join, one corpus scan, one tiny
    partial-aggregated shuffle of <= k*dim rows per partition).  Same
    fixed-point arithmetic as `_update_centroids`."""
    sql = best_cell_sql(vec_col, cents)
    if len(sql) > _LITERAL_SQL_MAX_BYTES:
        cdf = _cents_df(emb.sparkSession, cents)
        assign = argmax_cell(score_cells(emb, cdf, id_col, vec_col), id_col)
        return _update_centroids(emb, assign, id_col, vec_col)
    # two selects on purpose: a generator (posexplode) in the same
    # select as an inline-built struct strips the struct's field
    # aliases before resolution (col1/col2), so the argmax struct is
    # materialized as a named column first
    ex = emb.select(
        F.expr(sql).alias("_m"),
        F.col(vec_col).alias("_v"),
    ).select(
        (-F.col("_m.ncid")).alias("cid"),
        F.posexplode(F.col("_v")).alias("pos", "x"),
    )
    cent_val = dfinal(F.col("s"), EMB_SCALE) / F.col("n")
    return (
        ex.groupBy("cid", "pos")
        .agg(
            F.sum(fint(F.col("x").cast("double"), EMB_SCALE)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("c", cent_val)
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cent")
        )
    )


def collect_codebook(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """Bounded collect of a (cid, cent) codebook — <= k rows BY
    CONSTRUCTION — sorted by cid for deterministic literal order."""
    return sorted(
        (int(r["cid"]), [float(v) for v in r["cent"]]) for r in cents.collect()
    )


def lloyd_centroids_collected(
    emb: DataFrame,
    k: int,
    updates: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """`lloyd_centroids` driven through the literal path: the k x dim
    codebook state lives on the driver (2 bounded collects per update
    chain), every corpus pass is map-side.  Bit-identical centroids."""
    cents = sorted(
        (int(r[0]), [float(v) for v in r[1]])
        for r in emb.filter(F.col(id_col) < k).select(id_col, vec_col).collect()
    )
    for _ in range(updates):
        cents = collect_codebook(
            update_centroids_literal(emb, cents, id_col, vec_col)
        )
    return cents
