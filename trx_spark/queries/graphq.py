"""Iterative link analysis over the order-basket co-purchase graph
(LLM-pipeline extension; no reference counterpart — algorithm per
Page et al., "The PageRank Citation Ranking", 1999).

``pagerank_copurchase`` ranks parts by PageRank over the symmetric
co-purchase graph (two parts are linked when they appear in the same
order basket).  Relation to ``knn_pagerank`` (similarity.py): that one
ranks the capped LSH k-NN graph with double-typed ranks and fixed-point
transfer sums (the lost-mass variant, in-degree bounded by the bucket
cap); this one is the END-TO-END-INTEGER formulation — ranks never
leave BIGINT, so the gate hashes the rank column itself rather than a
derived transfer sum, and the symmetric closure guarantees no dangling
mass by construction.  The ``pagerank_fixed_point`` helper is the
reusable form (any (src, dst, outdeg) frame), pinned by a pure-Python
integer twin in tests.

Exactness design — the same discipline as ``wordpiece_merges`` /
``classifier_gd_round_stats``: gate the rounds' INTEGER state, never a
float.  Ranks are BIGINT fixed point at scale ``_PR_SCALE``; every
round is

    rank'(v) = (85 * Σ_{u→v} rank(u) DIV outdeg(u)) DIV 100
               + (15 * SCALE) DIV 100

with integer division only (both engines truncate non-negative
division identically), so Spark and the DuckDB unrolled-CTE oracle
agree bit-for-bit after any number of rounds.  Total rank mass is
bounded by N·SCALE, so the 85·Σ intermediate stays far inside int64
even at 100 TB node counts (2e7 parts · 1e9 scale · 85 ≈ 1.7e18).

Scale design (the 100 TB story):
- Edge generation is the audited basket shape (`copurchase_lift`):
  distinct (order, part), baskets over ``_PR_MAX_BASKET`` items dropped
  up front, so the self-join is quadratic only in a bounded basket
  size.  Edges are built ONCE and localCheckpoint'd; every iteration
  reuses the materialized edge list.
- Each round is exactly one shuffle: ranks ⋈ edges on the source key
  (both sides hash-partitioned on the node id — co-partitioned after
  round 1) followed by a partial-aggregatable groupBy on the
  destination.  No broadcast of anything data-sized, no driver-side
  state; round count (``_PR_ROUNDS``) is the knob, not data volume.
- The symmetric graph means the node set is closed under iteration
  (every node with out-edges has in-edges), so inner joins never drop
  rank mass and the frame size is constant across rounds.
- The final top-k is TakeOrderedAndProject (rank desc, part asc — a
  total order, so both engines pick the identical k rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.tables import load_table

_PR_ROUNDS = 6          # fixed iteration budget (unrolled in the oracle)
_PR_SCALE = 10**9       # BIGINT fixed-point scale for rank mass
_PR_DAMP_NUM = 85       # damping 0.85 as an exact rational
_PR_DAMP_DEN = 100
_PR_TELEPORT = (_PR_SCALE * (_PR_DAMP_DEN - _PR_DAMP_NUM)) // _PR_DAMP_DEN
_PR_MAX_BASKET = 64     # quadratic guard, same cap as copurchase_lift
_PR_TOPK = 20


def capped_basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (l_orderkey, l_partkey) with baskets over
    ``_PR_MAX_BASKET`` distinct parts dropped — the shared spine of
    every co-purchase pair enumeration (this graph, `copurchase_lift`,
    which asserts its own cap equals ours).  Memoized + checkpointed:
    the pair self-join, the per-part order counts and the order total
    all read the materialized table instead of re-running the distinct
    + basket-size chain."""
    def build():
        items = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        sized = items.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("_bs"))
        return (
            items.join(
                sized.filter(F.col("_bs") <= _PR_MAX_BASKET), "l_orderkey"
            )
            .drop("_bs")
            .localCheckpoint()
        )

    return memo("capped_basket_items", (spark, sf_dir), build)


def copurchase_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, n_ab): part pairs (src < dst) sharing at least one
    capped basket, with their basket co-occurrence count.  Memoized +
    checkpointed — the co-purchase graph consumes the (already
    distinct) key set and `copurchase_lift` the counts, so the
    quadratic-in-basket self-join materializes exactly once per
    session."""
    def build():
        kept = capped_basket_items(spark, sf_dir)
        a, b = kept.alias("a"), kept.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .localCheckpoint()
        )

    return memo("copurchase_pair_counts", (spark, sf_dir), build)


def _copurchase_graph(spark: SparkSession, sf_dir: str):
    """Symmetric co-purchase graph as (edges, deg): edges = (src, dst,
    outdeg) distinct part pairs sharing an order (both directions, so
    outdeg == indeg per node), basket-capped; deg = (src, outdeg).

    Built once per session and localCheckpoint'd — the warm memo the
    other trained/derived structures use — since every
    PageRank round rescans it.  The a<b half rides the shared
    `copurchase_pair_counts` memo (its keys ARE the distinct pairs, and
    `copurchase_lift` reads the same checkpoint), so the quadratic
    self-join materializes once instead of once per downstream
    consumer.  The deg join is left to AQE: at bench SF it broadcasts
    the node-sized side; at 100 TB both sides are large and it
    degrades to the co-partitioned shuffle join."""
    def build():
        half = copurchase_pair_counts(spark, sf_dir).select("src", "dst")
        pairs = half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = (
            pairs.groupBy("src")
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .localCheckpoint()
        )
        return pairs.join(deg, "src").localCheckpoint(), deg

    return memo("copurchase_graph", (spark, sf_dir), build)


def pagerank_fixed_point(edges: DataFrame, rounds: int = _PR_ROUNDS) -> DataFrame:
    """Damped power iteration over a (src, dst, outdeg) edge frame in
    BIGINT fixed point; returns (node, rank_fp).  The node set is the
    distinct sources — on a symmetric graph that is every node, and
    inner joins never drop rank mass.  Checkpoints every third round:
    enough to bound the lineage, few enough that Catalyst fuses
    adjacent rounds into one job."""
    ranks = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("rank_fp", F.lit(_PR_SCALE).cast("bigint"))
    )
    for r in range(rounds):
        ranks = (
            ranks.join(edges, ranks["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div outdeg").alias("_contrib"),
            )
            .groupBy("node")
            .agg(
                (
                    F.expr(
                        f"({_PR_DAMP_NUM} * sum(_contrib)) div {_PR_DAMP_DEN}"
                    )
                    + F.lit(_PR_TELEPORT)
                ).alias("rank_fp")
            )
        )
        if r % 3 == 2:
            ranks = ranks.localCheckpoint()
    return ranks


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_PR_TOPK`` parts by fixed-point PageRank over the
    co-purchase graph after ``_PR_ROUNDS`` damped power iterations.

    Columns: part (node id), rank_fp (BIGINT rank at _PR_SCALE),
    out_deg (co-purchase partner count)."""
    edges, deg = _copurchase_graph(spark, sf_dir)
    ranks = pagerank_fixed_point(edges)
    return (
        ranks.join(deg, ranks["node"] == deg["src"])
        .select(
            F.col("node").alias("part"),
            F.col("rank_fp"),
            F.col("outdeg").alias("out_deg"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("part"))
        .limit(_PR_TOPK)
    )


def _pr_round_cte(i: int) -> str:
    return f"""
r{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST(({_PR_DAMP_NUM} * SUM(r.rank_fp // e.outdeg))
                // {_PR_DAMP_DEN} + {_PR_TELEPORT} AS BIGINT) AS rank_fp
  FROM r{i - 1} r JOIN edges e ON r.node = e.src
  GROUP BY e.dst
)"""


_PAGERANK_SQL = (
    f"""
WITH items0 AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sized AS (
  SELECT l_orderkey FROM items0 GROUP BY l_orderkey
  HAVING COUNT(*) <= {_PR_MAX_BASKET}
),
items AS MATERIALIZED (
  SELECT i.l_orderkey, i.l_partkey FROM items0 i JOIN sized USING (l_orderkey)
),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM pairs GROUP BY src
),
edges AS MATERIALIZED (
  SELECT p.src, p.dst, d.outdeg FROM pairs p JOIN deg d USING (src)
),
r0 AS MATERIALIZED (
  SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS rank_fp FROM deg
),"""
    + ",".join(_pr_round_cte(i) for i in range(1, _PR_ROUNDS + 1))
    + f"""
SELECT r.node AS part, r.rank_fp, d.outdeg AS out_deg
FROM r{_PR_ROUNDS} r JOIN deg d ON r.node = d.src
ORDER BY r.rank_fp DESC, part ASC
LIMIT {_PR_TOPK}
"""
)


QUERIES = {
    "pagerank_copurchase": pagerank_copurchase,
}

ORACLES = {
    "pagerank_copurchase": _PAGERANK_SQL,
}
