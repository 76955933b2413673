"""Corpus relevance ranking: BM25 (Robertson–Spärck Jones okapi
weighting) of every document against a fixed query-term set — the
retrieval primitive a training-data pipeline uses for targeted corpus
slicing (pull the documents most relevant to an eval topic before
decontamination, or build retrieval-based quality labels).

Scale shape: term frequencies are one keyed aggregation over the
(already memoized) token stream *filtered to the query terms* — the
scan discards every non-query token map-side, so the shuffled volume is
proportional to query-term occurrences, not corpus tokens. Document
frequencies and the corpus scalars (N, avgdl) are tiny BY CONSTRUCTION
(≤ |query| rows / 1 row) and broadcast; the final ranking is
``TakeOrderedAndProject`` (per-partition top-k), never a global sort.

Determinism: the classic BM25 idf is ``ln((N−df+0.5)/(df+0.5)+1)``;
``ln`` is a libm transcendental the parity gate cannot trust across
engines, so this implementation uses the LOG-FREE monotone surrogate
``idf = (N−df+0.5)/(df+0.5)`` — per-term rank-equivalent to the okapi
idf (ln is monotone), and every remaining operation is plain IEEE
arithmetic on identical expression trees. Per-document accumulation
across query terms uses the fixed-point integer sum
(:mod:`trx_spark.exact`), so the gate compares bit-equal scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.exact import dfinal, fint, sql_dsum
from trx_spark.queries.curation import _token_stream, _toks_base
from trx_spark.queries.textdata import _TOKEN_RE

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_K1P1 = _BM25_K1 + 1.0   # 2.2
_ONE_MINUS_B = 1.0 - _BM25_B  # 0.25
_BM25_TOPK = 20
_BM25_SCALE = 1e9


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 against the fixed query
    ``{spark, join, window}``. Documents containing none of the query
    terms never enter the ranking (their score is identically 0).

    Output: (doc_id, n_terms_hit, bm25_score), descending."""
    base = _toks_base(spark, sf_dir)  # (doc_id, source, toks), memoized
    dl = base.select("doc_id", F.size("toks").cast("long").alias("dl"))
    scalars = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    ts = _token_stream(spark, sf_dir)
    tf = (
        ts.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_tbl = tf.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tf_d = F.col("tf").cast("double")
    den = tf_d + F.lit(_BM25_K1) * (
        F.lit(_ONE_MINUS_B)
        + F.lit(_BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    term_score = (idf * (tf_d * F.lit(_K1P1))) / den
    return (
        scored.withColumn("ts_fp", fint(term_score, _BM25_SCALE))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            dfinal(F.sum("ts_fp"), _BM25_SCALE).alias("bm25_score"),
        )
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
scalars AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS avgdl
  FROM dl
),
ts AS (
  SELECT doc_id, s.token FROM base, UNNEST(toks) AS s(token)
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ts WHERE token IN ({_TERMS_SQL})
  GROUP BY doc_id, token
),
df_tbl AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT t.doc_id,
         (((s.n_docs - d.df + CAST(0.5 AS DOUBLE)) / (d.df + CAST(0.5 AS DOUBLE)))
          * (CAST(t.tf AS DOUBLE) * CAST({_K1P1!r} AS DOUBLE)))
         / (CAST(t.tf AS DOUBLE)
            + CAST({_BM25_K1!r} AS DOUBLE)
              * (CAST({_ONE_MINUS_B!r} AS DOUBLE)
                 + CAST({_BM25_B!r} AS DOUBLE)
                   * (CAST(l.dl AS DOUBLE) / s.avgdl))) AS term_score
  FROM tf t
  JOIN df_tbl d USING (token)
  JOIN dl l USING (doc_id)
  CROSS JOIN scalars s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       {sql_dsum('term_score', _BM25_SCALE)} AS bm25_score
FROM scored
GROUP BY doc_id
ORDER BY bm25_score DESC, doc_id ASC
LIMIT {_BM25_TOPK}
"""


# ---------------------------------------------------------------------
# Feature hashing (the "hashing trick")
# ---------------------------------------------------------------------

_FH_DIM = 64           # feature dimension (production: 2^18+)
_FH_SIGN_A = 40503     # independent affine hash for the sign bit
_FH_SIGN_B = 30323


def hashed_tf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed term-frequency vectors (Weinberger et al. 2009,
    the "hashing trick"): every document becomes a sparse
    ``_FH_DIM``-dimensional vector with no vocabulary table at all —
    the featurization that scales to unbounded vocabularies because it
    needs NO global state (contrast `vocab_coverage`'s top-K vocab
    broadcast). The signed variant (±1 from an independent hash bit)
    makes collisions cancel in expectation, preserving inner products.

    Emitted as sparse (doc_id, dim, value) triples — the join-friendly
    layout for downstream linear models or similarity joins; densify
    with `array_agg` only at the consumer.

    Plan: tokenize map-side (memoized base) → one keyed aggregation on
    (doc_id, dim) — ≤ _FH_DIM rows per doc cross the shuffle however
    large the vocabulary. Pure integer math → oracle-exact."""
    from trx_spark.queries.textdata import _P, _tok_hash

    ts = _token_stream(spark, sf_dir)  # (doc_id, source, token), memoized
    tid = _tok_hash(F.col("token"))
    dim = (tid % _FH_DIM).cast("long")
    sign = F.when(
        ((F.lit(_FH_SIGN_A) * tid + F.lit(_FH_SIGN_B)) % F.lit(_P)) % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1)).cast("long")
    return (
        ts.select("doc_id", dim.alias("dim"), sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").alias("value"))
    )


def _fh_sql() -> str:
    from trx_spark.queries.textdata import _P, _tok_hash_sql

    tid = _tok_hash_sql("token")
    return f"""
WITH ts AS (
  SELECT doc_id, s.token
  FROM (SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents) t,
       UNNEST(toks) AS s(token)
),
hashed AS (
  SELECT doc_id,
         CAST({tid} % {_FH_DIM} AS BIGINT) AS dim,
         CAST(CASE WHEN (({_FH_SIGN_A} * {tid} + {_FH_SIGN_B}) % {_P}) % 2 = 0
                   THEN 1 ELSE -1 END AS BIGINT) AS s
  FROM ts
)
SELECT doc_id, dim, CAST(CAST(SUM(s) AS BIGINT) AS BIGINT) AS value
FROM hashed GROUP BY doc_id, dim
"""


# ---------------------------------------------------------------------
# Per-source characteristic terms (class-based TF-IDF)
# ---------------------------------------------------------------------

_TFIDF_TOPK = 10
_TFIDF_MIN_TF = 3


def _ctfidf_rank(tf: DataFrame, cls: str) -> DataFrame:
    """Shared c-TF-IDF scoring over a min-tf-pruned (cls, token, tf)
    frame: log-free idf surrogate, broadcast df/class-count, per-class
    top-k window. One parameterized plan for both class columns
    (``tfidf_top_terms`` cls=source, ``cluster_topics`` cls=cid)."""
    from pyspark.sql import Window

    df_tbl = tf.groupBy("token").agg(F.countDistinct(cls).alias("df"))
    c_cnt = tf.select(cls).distinct().agg(F.count(F.lit(1)).alias("_c"))
    weight = F.col("tf").cast("double") * (
        (
            F.col("_c").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(c_cnt))
        .withColumn("weight", weight)
    )
    w = Window.partitionBy(cls).orderBy(F.desc("weight"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TFIDF_TOPK)
        .select(cls, "token", "tf", "df", "weight", "rank")
    )


def _ctfidf_sql(cls: str, with_clause: str) -> str:
    """SQL twin of :func:`_ctfidf_rank`: ``with_clause`` must end in a
    ``tf`` CTE of min-tf-pruned (cls, token, tf) rows."""
    return f"""
WITH {with_clause},
df_tbl AS (
  SELECT token, CAST(COUNT(DISTINCT {cls}) AS BIGINT) AS df
  FROM tf GROUP BY token
),
c_cnt AS (SELECT CAST(COUNT(DISTINCT {cls}) AS BIGINT) AS c FROM tf),
scored AS (
  SELECT t.{cls}, t.token, t.tf, d.df,
         CAST(t.tf AS DOUBLE)
           * ((CAST(n.c AS DOUBLE) - CAST(d.df AS DOUBLE)
               + CAST(0.5 AS DOUBLE))
              / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) AS weight
  FROM tf t JOIN df_tbl d USING (token) CROSS JOIN c_cnt n
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY {cls}
                 ORDER BY weight DESC, token ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT {cls}, token, tf, df, weight, rank
FROM ranked WHERE rank <= {_TFIDF_TOPK}
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF (Grootendorst's class-based TF-IDF shape): each SOURCE
    is one meta-document; a term's weight is its source term frequency
    × the log-free idf surrogate (S − df + 0.5)/(df + 0.5) over
    source-level document frequency (rank-equivalent to the ln form —
    same parity argument as bm25_topk). Top-_TFIDF_TOPK terms per
    source: what a corpus triage step shows as "what is this source
    about" before mixture weighting.

    Scale: tf is one keyed aggregation over the memoized token stream
    with MAP-SIDE combine; the min-tf prune (applied post-agg, before
    the join) keeps the ranked frame proportional to characteristic
    vocabulary; df and the source count are ≤|vocab| / 1 rows and
    broadcast; the per-source top-k is a window shuffled by source —
    |sources| partitions, each sorting only its own pruned vocabulary.
    df is counted over min-tf-qualified (source, term) rows, so the
    idf denominates by "sources where the term is actually frequent"."""
    # materialized once: the df/s/ranking legs all derive from tf, and
    # without the checkpoint the (source, token) aggregation runs 3×
    tf = (
        _token_stream(spark, sf_dir)
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= _TFIDF_MIN_TF)
        .localCheckpoint()
    )
    return _ctfidf_rank(tf, "source")


_TFIDF_SQL = _ctfidf_sql(
    "source",
    f"""st AS (
  SELECT source, s.token
  FROM (SELECT source, regexp_extract_all(text, '{_TOKEN_RE}') AS toks
        FROM documents) t,
       UNNEST(toks) AS s(token)
),
tf AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM st GROUP BY source, token HAVING COUNT(*) >= {_TFIDF_MIN_TF}
)""",
)


def cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic labeling for embedding clusters (the BERTopic shape,
    Grootendorst 2022: cluster the embeddings, then describe each
    cluster with class-based TF-IDF): every document is assigned to its
    embedding-space cell via the IVF coarse quantizer's memoized
    assignment (vec_id ≡ doc_id in the testdata), each CELL is one
    meta-document, and its characteristic terms rank by the same
    log-free c-TF-IDF surrogate as ``tfidf_top_terms`` — the "what is
    this cluster about" readout a curation run uses to audit
    semantic-dedup / cluster-balanced-sampling decisions.

    Scale: the assignment join is one keyed shuffle of the token
    stream against the (vec_id, cid) table; everything downstream is
    the shared :func:`_ctfidf_rank` plan — map-side-combined tf
    aggregation, broadcast df/class-count, per-cell top-k window over
    the min-tf-pruned vocabulary (|cells| partitions)."""
    from trx_spark.queries.curation import _token_stream
    from trx_spark.queries.similarity import _cells

    cells = _cells(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cid"
    )
    tf = (
        _token_stream(spark, sf_dir)
        .join(cells, "doc_id")
        .groupBy("cid", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= _TFIDF_MIN_TF)
        .localCheckpoint()
    )
    return _ctfidf_rank(tf, "cid")


def _cluster_topics_sql() -> str:
    from trx_spark.queries.similarity import _CELLS_CTES

    return _ctfidf_sql(
        "cid",
        f"""{_CELLS_CTES},
st AS (
  SELECT t.doc_id, s.token
  FROM (SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks
        FROM documents) t,
       UNNEST(toks) AS s(token)
),
tf AS (
  SELECT c.cid, st.token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM st JOIN cells c ON c.vec_id = st.doc_id
  GROUP BY c.cid, st.token HAVING COUNT(*) >= {_TFIDF_MIN_TF}
)""",
    )


# ---------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke & Buettcher,
# SIGIR 2009) of the sparse and dense rankers — the standard fusion
# step of a RAG retrieval pipeline. RRF needs only the RANKS, never
# the incomparable raw scores: fused(d) = Σ_r 1/(K + rank_r(d)) over
# the rankers that surfaced d. With two rankers each term is one exact
# IEEE division and the sum is a single fixed-order addition, so the
# fused scores are bit-portable without any fixed-point machinery.
#
# Scale shape: both input rankings are already bounded top-k tables
# (≤20 and ≤10 rows); the fusion is a full outer join of two tiny
# frames + a window over ≤30 rows — costs nothing beyond the rankers
# it fuses (the recall-audit precedent).
# ---------------------------------------------------------------------

_RRF_K = 60  # the constant the RRF paper fixes; dampens top-rank dominance


def hybrid_rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused ranking of the BM25 top-20 (sparse, over ``documents``)
    and the brute-force cosine top-10 (dense, over the aligned
    ``embeddings`` ids): (doc_id, bm25_rank, dense_rank, rrf_score,
    fused_rank), missing-ranker membership contributing nothing."""
    from pyspark.sql import Window

    from trx_spark.queries.textdata import ann_cosine_topk

    sparse = bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_score"), F.asc("doc_id")))
        .cast("long")
        .alias("bm25_rank"),
    )
    dense = ann_cosine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rank").cast("long").alias("dense_rank"),
    )
    fused = sparse.join(dense, "doc_id", "full_outer").withColumn(
        "rrf_score",
        F.coalesce(
            F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("bm25_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("dense_rank")), F.lit(0.0)
        ),
    )
    return fused.select(
        "doc_id",
        "bm25_rank",
        "dense_rank",
        "rrf_score",
        F.row_number()
        .over(Window.orderBy(F.desc("rrf_score"), F.asc("doc_id")))
        .cast("long")
        .alias("fused_rank"),
    )


def _rrf_sql() -> str:
    from trx_spark.queries.textdata import _ANN_SQL

    return f"""
WITH sparse AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS BIGINT)
           AS bm25_rank
  FROM ({_BM25_SQL}) b
),
dense AS (
  SELECT vec_id AS doc_id, CAST(rank AS BIGINT) AS dense_rank
  FROM ({_ANN_SQL}) a
),
fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.bm25_rank, d.dense_rank,
         COALESCE(CAST(1.0 AS DOUBLE) / (CAST({float(_RRF_K)!r} AS DOUBLE) + s.bm25_rank),
                  CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / (CAST({float(_RRF_K)!r} AS DOUBLE) + d.dense_rank),
                    CAST(0.0 AS DOUBLE)) AS rrf_score
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
)
SELECT doc_id, bm25_rank, dense_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM fused
"""


QUERIES = {
    "bm25_topk": bm25_topk,
    "hashed_tf_features": hashed_tf_features,
    "tfidf_top_terms": tfidf_top_terms,
    "cluster_topics": cluster_topics,
    "hybrid_rank_rrf": hybrid_rank_rrf,
}

ORACLES = {
    "bm25_topk": _BM25_SQL,
    "hashed_tf_features": _fh_sql(),
    "tfidf_top_terms": _TFIDF_SQL,
    "cluster_topics": _cluster_topics_sql(),
    "hybrid_rank_rrf": _rrf_sql(),
}
