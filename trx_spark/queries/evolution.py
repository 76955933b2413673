"""Parquet schema evolution: the mergeSchema ingest contract.

A 100-TB corpus is never written in one generation — producers add
columns over time, and the lake ends up with parquet files of several
schemas side by side. Spark's answer is ``mergeSchema``: the scan
unions the file footers' schemas and fills missing columns with NULL
per file. This module stages a two-generation corpus (generation 1
without the ``lang`` column, generation 2 with it — written by the
engine itself, memoized like every shared stage)
and gates the merged read: per-source row counts, NULL census of the
evolved column, and an exact sum that must survive both generations.

The oracle never reads the staged files: generation membership is the
deterministic ``doc_id % 2`` rule, so DuckDB recomputes the merged
view directly from the source table (``CASE WHEN doc_id % 2 = 0 THEN
NULL ELSE lang END``) — any row lost by the staged write, any
mis-filled NULL, or a column resolved by position instead of by name
breaks the hash.

Scale notes: the staged write is one repartition per generation (the
pay-once layout cost); the gate read is a single parquet scan whose
schema merge happens at planning time (footer union), not per row —
mergeSchema's runtime cost is in file listing/footers, which is why
production lakes checkpoint the merged schema in a catalog instead of
re-merging on every read (the documented production switch).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.tables import load_table


def _staged_generations(spark: SparkSession, sf_dir: str) -> str:
    """Write the two-generation corpus; returns the base directory."""
    def build():
        base = tempfile.mkdtemp(prefix="trx_schema_evo_")
        docs = load_table(spark, sf_dir, "documents")
        gen1 = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "source", "n_chars"
        )
        gen2 = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "source", "n_chars", "lang"
        )
        gen1.repartition(4).write.mode("overwrite").parquet(f"{base}/gen=1")
        gen2.repartition(4).write.mode("overwrite").parquet(f"{base}/gen=2")
        return base

    return memo("schema_evo_generations", (spark, sf_dir), build)


def schema_evolution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: per-source census of the mergeSchema read over the
    two-generation staged corpus — rows, NULLs in the evolved column,
    distinct langs seen, and the cross-generation exact char sum."""
    base = _staged_generations(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen=1", f"{base}/gen=2"
    )
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("lang").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_null_lang"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
        F.sum("n_chars").alias("sum_chars"),
    )


_EVO_SQL = """
WITH merged AS (
  SELECT doc_id, source, n_chars,
    CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_lang,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM merged GROUP BY source
"""

# ---------------------------------------------------------------------
# Snapshot time-travel diff: the versioned store under the gate
# ---------------------------------------------------------------------


def _staged_snapshots(spark: SparkSession, sf_dir: str) -> str:
    """Write two customer snapshots into a versioned store (memoized):
    v0 drops every 10th key; v1 drops every 7th key and doubles the
    balance of every 3rd — a deterministic add/remove/change mix."""
    from trx_spark.sources.sinks import save_snapshot

    def build():
        base = tempfile.mkdtemp(prefix="trx_snap_store_")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        v0 = cust.filter(F.col("c_custkey") % 10 != 0)
        v1 = cust.filter(F.col("c_custkey") % 7 != 0).select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 3 == 0, F.col("c_acctbal") * 2.0
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        save_snapshot(v0, base, note="initial load")
        save_snapshot(v1, base, note="monthly refresh")
        return base

    return memo("snapshot_store", (spark, sf_dir), build)


def snapshot_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: the census of a snapshot-to-snapshot diff read back
    via TIME TRAVEL from the versioned store (v0 vs current) — keys
    added, removed, value-changed and unchanged, plus the exact
    balance delta. Any row or value not surviving the snapshot
    write→read roundtrip, or a manifest pointing at the wrong version,
    breaks the hash (the oracle recomputes both versions' membership
    rules straight from the source table — it never reads the store)."""
    from trx_spark.exact import dsum
    from trx_spark.sources.sinks import load_snapshot

    base = _staged_snapshots(spark, sf_dir)
    v0 = load_snapshot(spark, base, version=0).select(
        F.col("c_custkey").alias("k0"), F.col("c_acctbal").alias("bal0")
    )
    v1 = load_snapshot(spark, base).select(
        F.col("c_custkey").alias("k1"), F.col("c_acctbal").alias("bal1")
    )
    j = v0.join(v1, v0.k0 == v1.k1, "full_outer")
    return j.agg(
        F.sum(
            F.when(F.col("k0").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_added"),
        F.sum(
            F.when(F.col("k1").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_removed"),
        F.sum(
            F.when(
                F.col("k0").isNotNull()
                & F.col("k1").isNotNull()
                & (F.col("bal0") != F.col("bal1")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("n_changed"),
        F.sum(
            F.when(
                F.col("k0").isNotNull()
                & F.col("k1").isNotNull()
                & (F.col("bal0") == F.col("bal1")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("n_unchanged"),
        dsum(
            F.when(
                F.col("k0").isNotNull() & F.col("k1").isNotNull(),
                F.col("bal1") - F.col("bal0"),
            ).otherwise(F.lit(0.0))
        ).alias("bal_delta"),
    )


def _snap_sql() -> str:
    from trx_spark.exact import sql_dsum

    return f"""
WITH v0 AS (
  SELECT c_custkey AS k0, c_acctbal AS bal0
  FROM customer WHERE c_custkey % 10 <> 0
),
v1 AS (
  SELECT c_custkey AS k1,
    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal * 2.0
         ELSE c_acctbal END AS bal1
  FROM customer WHERE c_custkey % 7 <> 0
),
j AS (SELECT * FROM v0 FULL OUTER JOIN v1 ON k0 = k1)
SELECT
  CAST(SUM(CASE WHEN k0 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(SUM(CASE WHEN k1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(SUM(CASE WHEN k0 IS NOT NULL AND k1 IS NOT NULL
            AND bal0 <> bal1 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(CASE WHEN k0 IS NOT NULL AND k1 IS NOT NULL
            AND bal0 = bal1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
  {sql_dsum("CASE WHEN k0 IS NOT NULL AND k1 IS NOT NULL THEN bal1 - bal0 ELSE 0.0 END")}
    AS bal_delta
FROM j
"""


QUERIES = {
    "schema_evolution_stats": schema_evolution_stats,
    "snapshot_diff_stats": snapshot_diff_stats,
}
ORACLES = {
    "schema_evolution_stats": _EVO_SQL,
    "snapshot_diff_stats": _snap_sql(),
}
