"""Distributed BPE tokenizer training + encoding (LLM-pipeline
extension; no reference counterpart — algorithm per Sennrich,
Haddow & Birch, "Neural Machine Translation of Rare Words with
Subword Units", ACL 2016).

``bpe_merges`` trains the merge table the standard way: build the
word-frequency dictionary, represent each word as a separator-joined
character sequence, then repeatedly (a) count adjacent symbol pairs
weighted by word frequency, (b) pick the most frequent pair
(deterministic tie-break: count DESC, left ASC, right ASC), and
(c) apply the merge to every word. ``bpe_encode`` segments every
document with the trained merges and reports per-doc piece counts.

Scale design (the 100 TB story):
- The ONLY corpus-scale pass is the word-frequency count — a
  partial-aggregatable groupBy + TakeOrderedAndProject top-K. The
  training loop itself runs over the K-row word dictionary
  (K = _BPE_VOCAB), so merge rounds cost O(K · max_word_len) per
  round regardless of corpus size.
- Each round is fully declarative: pair explode → groupBy sum →
  orderBy/limit(1) (TakeOrderedAndProject) → 1-row broadcast
  cross-join driving a ``replace`` rewrite. Nothing is collected to
  the driver; the loop is a static unroll like the Lloyd trainer
  (operators/kmeans.py) and PageRank (similarity.knn_pagerank).
- Encoding is a broadcast join of the K-row (word → pieces) map
  against the token stream — map-side, no corpus shuffle beyond the
  final per-doc aggregation.

Merge application is SYMBOL-ALIGNED: each round folds the symbol
array left-to-right, fusing only an exact trailing symbol ``l``
followed by an exact symbol ``r`` (Spark ``aggregate`` / DuckDB
``list_reduce`` over the split sequence). A plain string ``replace``
of ``l<SEP>r`` on the joined sequence would match ACROSS symbol
boundaries — a symbol ENDING in l before a symbol STARTING with r
gets wrongly fused (e.g. after merging (e,s), applying (s,t) to
b<SEP>es<SEP>t must NOT produce "est") — diverging from Sennrich's
algorithm. The fold is exactly Sennrich's greedy left-to-right
non-overlapping scan: after a fuse the trailing symbol becomes l||r
(never equal to l, since r is non-empty), so the fused symbol cannot
chain-fuse within the round, and the <SEP>-anchored suffix check
cannot match a partial symbol. Pinned by
tests/test_bpe.py::test_merges_boundary_crossing.

Oracle: the DuckDB twin unrolls the same _BPE_MERGES rounds as CTEs
with the identical list_reduce fold (counts are exact integers), so
the gate checks the whole trainer bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo

_SEP = "\x1f"  # unit separator — cannot occur inside [a-z]+ tokens
_BPE_VOCAB = 256  # words in the training dictionary (top-K by freq)
_BPE_MERGES = 8  # merge rounds (static unroll, mirrored in the oracle)

# symbol-aligned merge application (see module docstring): fold the
# symbol array, fusing exact adjacent symbols (l, r) only. Runs over
# the <=_BPE_VOCAB-row word dict — O(K * max_word_len) per round.
_APPLY_MERGE_EXPR = (
    f"aggregate("
    f"slice(split(seq, '{_SEP}'), 2, size(split(seq, '{_SEP}')) - 1), "
    f"element_at(split(seq, '{_SEP}'), 1), "
    f"(acc, x) -> CASE WHEN x = r "
    f"AND (acc = l OR endswith(acc, '{_SEP}' || l)) "
    f"THEN acc || x ELSE acc || '{_SEP}' || x END)"
)


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-_BPE_VOCAB (word, freq) by (freq DESC, word ASC) — the one
    corpus-scale stage (partial agg + TakeOrderedAndProject)."""
    from trx_spark.queries.curation import _toks_base

    toks = _toks_base(spark, sf_dir).select(F.explode("toks").alias("word"))
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(_BPE_VOCAB)
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, cnt): adjacent symbol pairs over the word dict, weighted
    by word frequency. Spark sequence(1, 0) is DESCENDING (not empty),
    so single-symbol words are guarded explicitly."""
    s = F.split(F.col("seq"), _SEP)
    pairs = F.when(F.size(s) >= 2, F.expr(
        f"transform(sequence(1, size(split(seq, '{_SEP}')) - 1), "
        f"j -> struct(element_at(split(seq, '{_SEP}'), j) AS l, "
        f"element_at(split(seq, '{_SEP}'), j + 1) AS r))"
    )).otherwise(F.expr("array()").cast("array<struct<l:string,r:string>>"))
    return (
        words.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


# trained state memo: (merges_df, words_df) — bpe_encode rides the
# same training run as bpe_merges
def _train(spark: SparkSession, sf_dir: str):
    def build():
        # initial symbol sequence: chars joined by the separator
        words = _word_freq(spark, sf_dir).select(
            "word",
            "freq",
            F.expr("substring(regexp_replace(word, '(.)', '$1\x1f'), 1, "
                   "2 * length(word) - 1)").alias("seq"),
        ).localCheckpoint()
        merge_rows = []
        for rank in range(1, _BPE_MERGES + 1):
            # checkpointed: the 1-row result feeds BOTH the merge table and
            # the rewrite join — one pair-count job per round, not two
            best = (
                _pair_counts(words)
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1)
                .localCheckpoint()
            )
            merge_rows.append(
                best.select(
                    F.lit(rank).alias("merge_rank"),
                    F.col("l").alias("left_sym"),
                    F.col("r").alias("right_sym"),
                    F.col("cnt").alias("pair_count"),
                )
            )
            # LEFT join so an exhausted trainer (no pairs left — every word
            # fully merged) no-ops instead of wiping the dictionary; the
            # 1-row build side keeps this a broadcast loop join by design
            words = (
                words.join(F.broadcast(best), F.lit(True), "left")
                .select(
                    "word",
                    "freq",
                    F.when(F.col("l").isNull(), F.col("seq"))
                    .otherwise(F.expr(_APPLY_MERGE_EXPR))
                    .alias("seq"),
                )
                .localCheckpoint()
            )
        merges = merge_rows[0]
        for m in merge_rows[1:]:
            merges = merges.unionByName(m)
        return (merges.localCheckpoint(), words)

    return memo("bpe_trained", (spark, sf_dir), build)


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table: (merge_rank, left_sym, right_sym,
    pair_count), one row per round in training order."""
    merges, _ = _train(spark, sf_dir)
    return merges


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment every document with the trained merges: per doc,
    (n_tokens, n_pieces, pieces_per_token). In-vocab words cost
    their trained piece count; out-of-vocab words fall back to
    character segmentation (length(word) pieces) — the standard
    open-vocabulary guarantee."""
    from trx_spark.queries.curation import _toks_base

    _, words = _train(spark, sf_dir)
    vocab = words.select(
        "word",
        (F.size(F.split(F.col("seq"), _SEP))).cast("long").alias("wp"),
    )
    toks = _toks_base(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("word")
    )
    pieces = toks.join(F.broadcast(vocab), "word", "left").select(
        "doc_id",
        F.coalesce(F.col("wp"), F.length("word").cast("long")).alias("np"),
    )
    return pieces.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("np").alias("n_pieces"),
        (
            F.sum("np").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("pieces_per_token"),
    )


# ---------------------------------------------------------------------
# DuckDB oracles: the same trainer unrolled as CTEs
# ---------------------------------------------------------------------

_W0_CTE = f"""
topwords AS (
  SELECT word, freq FROM (
    SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS t FROM documents)
    GROUP BY t)
  ORDER BY freq DESC, word LIMIT {_BPE_VOCAB}
),
w0 AS (
  SELECT word, freq,
         left(regexp_replace(word, '(.)', '\\1' || chr(31), 'g'),
              2 * length(word) - 1) AS seq
  FROM topwords
)"""


def _round_ctes(i: int) -> str:
    prev, cur = f"w{i - 1}", f"w{i}"
    return f"""
p{i} AS (
  SELECT t.s[g.j] AS l, t.s[g.j + 1] AS r, CAST(SUM(t.freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(seq, chr(31)) AS s FROM {prev}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.s) - 1)) AS j) g
  GROUP BY t.s[g.j], t.s[g.j + 1]
),
b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
{cur} AS (
  SELECT w.word, w.freq,
         CASE WHEN b.l IS NULL THEN w.seq
              ELSE list_reduce(string_split(w.seq, chr(31)),
                     (acc, x) -> CASE WHEN x = b.r AND (acc = b.l
                                   OR ends_with(acc, chr(31) || b.l))
                                 THEN acc || x
                                 ELSE acc || chr(31) || x END)
         END AS seq
  FROM {prev} w LEFT JOIN b{i} b ON TRUE
)"""


_TRAIN_CTES = _W0_CTE + "," + ",".join(
    _round_ctes(i) for i in range(1, _BPE_MERGES + 1)
)

_MERGES_SQL = (
    "WITH " + _TRAIN_CTES + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"cnt AS pair_count FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
)

_ENCODE_SQL = (
    "WITH " + _TRAIN_CTES + f""",
vocab AS (
  SELECT word, CAST(len(string_split(seq, chr(31))) AS BIGINT) AS wp
  FROM w{_BPE_MERGES}
),
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS word
  FROM documents
)
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(COALESCE(v.wp, length(t.word))) AS BIGINT) AS n_pieces,
  CAST(SUM(COALESCE(v.wp, length(t.word))) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS pieces_per_token
FROM tok t LEFT JOIN vocab v ON t.word = v.word
GROUP BY t.doc_id
"""
)

QUERIES = {
    "bpe_merges": bpe_merges,
    "bpe_encode": bpe_encode,
}

ORACLES = {
    "bpe_merges": _MERGES_SQL,
    "bpe_encode": _ENCODE_SQL,
}
