"""WordPiece greedy segmentation (LLM-pipeline extension; no reference
counterpart — algorithm per Wu et al., "Google's Neural Machine
Translation System", 2016 §4.1 / the BERT tokenizer's
longest-match-first rule).

``wordpiece_encode`` segments every document against a corpus-derived
vocabulary (top-``_WP_VOCAB`` words by frequency plus the 26 single
characters, so every word is segmentable) with BERT's greedy
longest-match-first scan: repeatedly take the longest vocabulary piece
that prefixes the remaining string. Words longer than ``_WP_MAXLEN``
map to a single UNK piece (BERT's ``max_input_chars_per_word`` rule).
The simplification vs production WordPiece: one flat piece vocabulary
(no ``##`` continuation marking) and a frequency-ranked rather than
likelihood-trained vocab — the greedy matcher, the part with actual
algorithmic content, is exact.

Scale design (the 100 TB story):
- Corpus size touches exactly two keyed stages: the word-frequency
  groupBy that ranks the vocab and the distinct-word reduction (both
  partial-aggregatable). The segmentation fold itself runs per
  DISTINCT word as one whole-stage-codegen expression — the ≤154-piece
  vocab is inlined as an array literal (built from a bounded collect,
  like the capped-key lists elsewhere), so there is NO join and NO
  Python in the matcher.
- The per-word piece counts join back to the token stream on the word
  key and aggregate per doc — shuffle bounded by the token stream,
  the same shape as bpe_encode.

Oracle: the DuckDB twin derives the identical vocab in SQL and replays
the identical greedy scan as a recursive CTE (one recursion level per
consumed piece; the longest-prefix choice is a correlated
max-by-length subquery), so the gate checks the whole matcher
bit-for-bit.
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo

_WP_VOCAB = 128  # top-K corpus words kept as whole pieces
_WP_MAXLEN = 20  # BERT's max_input_chars_per_word rule → UNK


def _wp_fold_expr(vocab: list[str], word_col: str = "word") -> str:
    """The greedy longest-match-first scan as ONE Spark SQL expression:
    fold up to _WP_MAXLEN rounds, each consuming the longest vocab
    piece that prefixes the remainder (ties impossible: two equal-length
    prefixes of one string are equal). Returns the piece count."""
    arr = "array(" + ", ".join("'" + p + "'" for p in sorted(vocab)) + ")"
    best = (
        f"aggregate(filter({arr}, v -> startswith(acc.rem, v)), '', "
        f"(b, v) -> CASE WHEN length(v) > length(b) THEN v ELSE b END)"
    )
    return (
        f"aggregate(sequence(1, {_WP_MAXLEN}), "
        f"named_struct('rem', {word_col}, 'np', 0L), "
        f"(acc, i) -> CASE WHEN acc.rem = '' THEN acc ELSE named_struct("
        f"'rem', substring(acc.rem, length({best}) + 1), "
        f"'np', acc.np + 1L) END, "
        # a word is segmented only if the fold consumed it fully; if no
        # vocab piece ever prefixes the remainder the rounds stall with
        # rem unchanged — emit NULL (the oracle's recursive CTE also
        # never reaches rem = '' there, and SUM skips NULL in both
        # engines), never a fake piece count
        f"acc -> IF(acc.rem = '', acc.np, CAST(NULL AS BIGINT)))"
    )


def _wp_vocab(spark: SparkSession, sf_dir: str) -> list[str]:
    """Top-_WP_VOCAB words by (freq DESC, word ASC) ∪ the 26 single
    characters — a bounded (≤154-row) driver read that becomes the
    matcher's inlined array literal."""
    from trx_spark.queries.curation import _token_stream

    def build():
        top = (
            _token_stream(spark, sf_dir)
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), F.asc("token"))
            .limit(_WP_VOCAB)
            .collect()
        )
        vocab = sorted({r["token"] for r in top} | set(string.ascii_lowercase))
        # the no-match NULL in _wp_fold_expr is defensive; with the
        # token alphabet fully covered by single-char pieces it is
        # unreachable, and this guard keeps that true if _TOKEN_RE or
        # the vocab construction ever changes
        assert set(string.ascii_lowercase) <= set(vocab), "vocab must cover [a-z]"
        return vocab

    return memo("wordpiece_vocab", (spark, sf_dir), build)


def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc WordPiece segmentation stats: (n_tokens, n_pieces,
    n_unk) under greedy longest-match-first against the corpus vocab;
    words over _WP_MAXLEN chars count 1 UNK piece."""
    from trx_spark.queries.curation import _token_stream

    vocab = _wp_vocab(spark, sf_dir)
    toks = _token_stream(spark, sf_dir).select(
        "doc_id", F.col("token").alias("word")
    )
    dw = (
        toks.select("word")
        .distinct()
        .filter(F.length("word") <= _WP_MAXLEN)
        .withColumn("np", F.expr(_wp_fold_expr(vocab)))
    )
    joined = toks.join(dw, "word", "left")
    # over-length words (absent from dw, np NULL) count 1 UNK piece;
    # in-vocab-length words contribute their piece count, which is NULL
    # only in the (guarded-unreachable) no-match case — SUM skips NULL
    # identically in Spark and DuckDB, keeping the engines aligned
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(
            F.when(F.length("word") > _WP_MAXLEN, F.lit(1)).otherwise(F.col("np"))
        ).alias("n_pieces"),
        F.sum(
            F.when(F.length("word") > _WP_MAXLEN, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_unk"),
    )


_WP_SQL = f"""
WITH RECURSIVE
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS word
  FROM documents
),
topw AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS c FROM tok GROUP BY word)
  ORDER BY c DESC, word LIMIT {_WP_VOCAB}
),
voc AS (
  SELECT piece FROM topw t(piece)
  UNION
  SELECT chr(CAST(96 + i AS INTEGER))
  FROM UNNEST(generate_series(1, 26)) AS u(i)
),
dw AS (
  SELECT DISTINCT word FROM tok WHERE length(word) <= {_WP_MAXLEN}
),
seg AS (
  SELECT word, word AS rem, 0 AS np FROM dw
  UNION ALL
  SELECT word, substr(rem, length(best) + 1), np + 1
  FROM (
    SELECT s.word, s.rem, s.np,
           (SELECT piece FROM voc
            WHERE starts_with(s.rem, piece)
            ORDER BY length(piece) DESC LIMIT 1) AS best
    FROM seg s WHERE s.rem <> ''
  )
),
wp AS (SELECT word, np FROM seg WHERE rem = '')
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN length(t.word) > {_WP_MAXLEN} THEN 1 ELSE w.np END)
    AS BIGINT) AS n_pieces,
  CAST(SUM(CASE WHEN length(t.word) > {_WP_MAXLEN} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_unk
FROM tok t LEFT JOIN wp w ON t.word = w.word
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------
# WordPiece TRAINING (Schuster & Nakajima, "Japanese and Korean voice
# search", ICASSP 2012; the BERT wordpiece trainer): same merge loop as
# BPE but the pair picked each round maximizes the likelihood score
# count(ab) / (count(a) * count(b)) instead of the raw pair count.
# The score is a ratio of exact integers, so both engines compute the
# identical IEEE double and the argmax (tie-broken on (l, r)) is
# deterministic — the merge table's integer sufficient statistics
# (pair/unigram counts) are driver-hashed exactly, the
# classifier_gd_round_stats pattern applied to a tokenizer trainer.
#
# Scale design matches bpe.py: one corpus-scale word-frequency pass,
# then every round runs over the ≤256-row word dictionary (pair counts
# + unigram counts + a 3-way join on that tiny table + a 1-row
# broadcast rewrite). Unigram counts are dictionary-weighted (freq-
# weighted symbol occurrences over the current segmentation) — the
# trainer's standard corpus statistics restricted to the top-K dict,
# the same scoping as the BPE twin.
# ---------------------------------------------------------------------

_WPT_MERGES = 6  # likelihood merge rounds (static unroll, mirrored in SQL)


def _sym_counts(words: DataFrame) -> DataFrame:
    """(sym, c): freq-weighted symbol occurrences over the current
    segmentation of the word dictionary."""
    from trx_spark.queries.bpe import _SEP

    return (
        words.select(
            "freq", F.explode(F.split(F.col("seq"), _SEP)).alias("sym")
        )
        .groupBy("sym")
        .agg(F.sum("freq").alias("c"))
    )


# trained state memo: (merges_df, words_df)
def _wpt_train(spark: SparkSession, sf_dir: str):
    from trx_spark.queries.bpe import _APPLY_MERGE_EXPR, _word_freq, _pair_counts

    def build():
        words = _word_freq(spark, sf_dir).select(
            "word",
            "freq",
            F.expr(
                "substring(regexp_replace(word, '(.)', '$1\x1f'), 1, "
                "2 * length(word) - 1)"
            ).alias("seq"),
        ).localCheckpoint()
        merge_rows = []
        for rank in range(1, _WPT_MERGES + 1):
            pairs = _pair_counts(words)
            syms = _sym_counts(words)
            ul = syms.select(F.col("sym").alias("l"), F.col("c").alias("cl"))
            ur = syms.select(F.col("sym").alias("r"), F.col("c").alias("cr"))
            # checkpointed: the 1-row argmax feeds BOTH the merge table and
            # the rewrite join — one dictionary-scale job per round
            best = (
                pairs.join(ul, "l")
                .join(ur, "r")
                .withColumn(
                    "score",
                    F.col("cnt").cast("double")
                    / (F.col("cl").cast("double") * F.col("cr").cast("double")),
                )
                .orderBy(F.desc("score"), F.asc("l"), F.asc("r"))
                .limit(1)
                .localCheckpoint()
            )
            merge_rows.append(
                best.select(
                    F.lit(rank).alias("merge_rank"),
                    F.col("l").alias("left_sym"),
                    F.col("r").alias("right_sym"),
                    F.col("cnt").alias("pair_count"),
                    F.col("cl").alias("left_count"),
                    F.col("cr").alias("right_count"),
                    F.col("score"),
                )
            )
            # LEFT join so an exhausted trainer no-ops (see bpe._train);
            # 1-row build side keeps this a broadcast loop join by design
            words = (
                words.join(
                    F.broadcast(best.select("l", "r")), F.lit(True), "left"
                )
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

    return memo("wordpiece_trained", (spark, sf_dir), build)


def wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The likelihood-trained merge table: (merge_rank, left_sym,
    right_sym, pair_count, left_count, right_count, score), one row per
    round in training order; the integer counts are the round's exact
    sufficient statistics and score = pair/(l*r) in IEEE double."""
    merges, _ = _wpt_train(spark, sf_dir)
    return merges


def wordpiece_trained_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment every document with the LIKELIHOOD-trained vocab (the
    final segmentation of the top-K dictionary): per doc (n_tokens,
    n_pieces, pieces_per_token); out-of-dictionary words fall back to
    character segmentation — same open-vocabulary contract as
    bpe_encode, different trainer."""
    from trx_spark.queries.bpe import _SEP
    from trx_spark.queries.curation import _toks_base

    _, words = _wpt_train(spark, sf_dir)
    vocab = words.select(
        "word",
        F.size(F.split(F.col("seq"), _SEP)).cast("long").alias("wp"),
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


def _wpt_round_ctes(i: int) -> str:
    # MATERIALIZED: each round references w{i-1} FOUR times (pair
    # counts, both unigram legs, the rewrite) — DuckDB inlines plain
    # CTEs, which blows up 4^rounds without it
    prev, cur = f"w{i - 1}", f"w{i}"
    return f"""
p{i} AS MATERIALIZED (
  SELECT t.s[g.j] AS l, t.s[g.j + 1] AS r, CAST(SUM(t.freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(seq, chr(31)) AS s FROM {prev}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.s) - 1)) AS j) g
  GROUP BY t.s[g.j], t.s[g.j + 1]
),
u{i} AS MATERIALIZED (
  SELECT x AS sym, CAST(SUM(freq) AS BIGINT) AS c
  FROM (SELECT freq, unnest(string_split(seq, chr(31))) AS x FROM {prev})
  GROUP BY x
),
b{i} AS MATERIALIZED (
  SELECT p.l, p.r, p.cnt, ul.c AS cl, ur.c AS cr,
         CAST(p.cnt AS DOUBLE) / (CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE))
           AS score
  FROM p{i} p JOIN u{i} ul ON p.l = ul.sym JOIN u{i} ur ON p.r = ur.sym
  ORDER BY score DESC, p.l, p.r LIMIT 1
),
{cur} AS MATERIALIZED (
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


def _wpt_train_ctes() -> str:
    from trx_spark.queries.bpe import _W0_CTE

    base = _W0_CTE.replace(" AS (", " AS MATERIALIZED (")
    return base + "," + ",".join(
        _wpt_round_ctes(i) for i in range(1, _WPT_MERGES + 1)
    )


_WPT_MERGES_SQL = (
    "WITH " + _wpt_train_ctes() + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"cnt AS pair_count, cl AS left_count, cr AS right_count, score "
        f"FROM b{i}"
        for i in range(1, _WPT_MERGES + 1)
    )
)

_WPT_ENCODE_SQL = (
    "WITH " + _wpt_train_ctes() + f""",
vocab AS (
  SELECT word, CAST(len(string_split(seq, chr(31))) AS BIGINT) AS wp
  FROM w{_WPT_MERGES}
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
    "wordpiece_encode": wordpiece_encode,
    "wordpiece_merges": wordpiece_merges,
    "wordpiece_trained_encode": wordpiece_trained_encode,
}

ORACLES = {
    "wordpiece_encode": _WP_SQL,
    "wordpiece_merges": _WPT_MERGES_SQL,
    "wordpiece_trained_encode": _WPT_ENCODE_SQL,
}
