"""Bucketed (pre-shuffled) table layout: the co-located join.

The single biggest repeated cost of a 100-TB fact-to-fact workload is
re-shuffling the same tables on the same key for every join.  Spark's
answer is *bucketing*: write each table hash-partitioned into a fixed
number of buckets on the join key (``DataFrameWriter.bucketBy`` +
``saveAsTable``), and every subsequent equi-join on that key reads
bucket *i* against bucket *i* directly — a SortMergeJoin with **no
Exchange on either side** (asserted by ``tests/test_bucketing.py``
against the executed plan).  The shuffle is paid once, at layout time,
and amortized over every downstream join — the same
pay-once-at-write economics as the Z-order layout family
(:mod:`trx_spark.queries.layout`), but for join locality instead of
scan pruning.

``bucketed_join_stats`` is the gate query: it builds bucketed copies
of ``lineitem`` and ``orders`` keyed by orderkey (memoized per
session×sf, one ``repartition(N, key)`` before the write so each
bucket is exactly one file), joins them bucket-to-bucket, and
aggregates revenue per order priority.  Bucketing is a pure layout
transform, so the DuckDB oracle computes the same aggregate from the
RAW tables — any row lost, duplicated, or mis-bucketed by the layout
breaks the hash.

Scale notes:

- Bucket count here is 8 (sf-test-sized); at 100 TB you size buckets
  to ~executor-memory-sized splits (e.g. 4096) — the plan shape is
  identical, only the constant changes.
- The bucketed write is the ONE shuffle; the gate join has a single
  Exchange in its whole plan (the final groupBy on priority), verified
  by the plan-invariant test with broadcast joins disabled.
- At local test scale AQE may elect a broadcast join for the gate
  aggregate (the tables are tiny); correctness is layout-invariant
  either way — the no-Exchange property is pinned under
  ``autoBroadcastJoinThreshold=-1`` in the test, where the SMJ path is
  forced.
"""

from __future__ import annotations

import hashlib
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import dsum, sql_dsum
from trx_spark.tables import load_table

N_BUCKETS = 8


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write bucketed copies of lineitem and orders (keyed by orderkey,
    ``N_BUCKETS`` buckets, one file per bucket) and register them in
    the session catalog. Memoized; returns the two catalog table names
    ``(lineitem, orders)``."""
    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        run = uuid.uuid4().hex[:8]
        base = tempfile.mkdtemp(prefix="trx_bucketed_")
        names = []
        for table, bkey in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
            name = f"trx_bkt_{table}_{tag}_{run}"
            df = load_table(spark, sf_dir, table)
            (
                df.repartition(N_BUCKETS, F.col(bkey))
                .write.bucketBy(N_BUCKETS, bkey)
                .sortBy(bkey)
                .option("path", f"{base}/{table}")
                .mode("overwrite")
                .saveAsTable(name)
            )
            names.append(name)
        return (names[0], names[1])

    return memo("bucketed_tables", (spark, sf_dir), build)


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw co-located join (exposed for the plan-invariant test):
    bucketed lineitem ⋈ bucketed orders on orderkey — bucket-to-bucket,
    no Exchange on either join input."""
    li_name, o_name = bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    orders = spark.table(o_name)
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


def bucketed_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: revenue per order priority computed over the
    co-located (bucketed) join. Oracle recomputes from the raw tables —
    the layout must be row-exact."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return bucketed_join(spark, sf_dir).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(rev).alias("revenue"),
    )


_BUCKETED_SQL = f"""
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

QUERIES = {"bucketed_join_stats": bucketed_join_stats}
ORACLES = {"bucketed_join_stats": _BUCKETED_SQL}
