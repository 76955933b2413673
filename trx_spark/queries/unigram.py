"""Unigram-LM (SentencePiece-style) tokenizer training + encoding
(LLM-pipeline extension; no reference counterpart — algorithm per
Kudo, "Subword Regularization: Improving Neural Network Translation
Models with Multiple Subword Candidates", ACL 2018 §3; the hard-EM
variant whose E-step uses the Viterbi-best segmentation, i.e. the
trainer's sufficient statistics are the freq-weighted piece counts
over 1-best segmentations — exact integers, so the gate hashes the
round's sufficient statistics, not the likelihood, the same contract
as ``wordpiece_merges`` / ``classifier_gd_round_stats``).

Training loop:
- Seed vocabulary: every substring of the top-``_UG_DICT`` word
  dictionary up to ``_UG_MAXP`` chars, freq-weighted; keep the top
  ``_UG_SEED`` multi-char pieces plus ALL single chars (coverage), with
  their occurrence counts as the initial sufficient statistics.
- ``_UG_ROUNDS`` hard-EM rounds: piece probability p = cnt / total
  (one IEEE division of exact integers); E-step Viterbi-segments every
  dictionary word under p (DP over word positions maximizing the
  product of piece probabilities, first-maximum tie-break); M-step
  re-counts pieces over the Viterbi segmentations with +1 smoothing
  over the full seed set (so no piece's probability hits zero — the
  EM mass shift itself does the soft pruning).

Scale design (the 100 TB story — the bpe.py/wordpiece.py scoping):
- Corpus size touches exactly two keyed stages: the word-frequency
  groupBy that picks the dictionary (partial agg +
  TakeOrderedAndProject) and, for the encoder, the distinct-word
  reduction. Every EM round runs over the ≤``_UG_DICT``-row word
  dictionary with the ≤(``_UG_SEED``+26)-entry probability map carried
  as a 1-row broadcast — O(K · max_word_len · _UG_MAXP) per round,
  independent of corpus size; nothing is collected to the driver.
- The Viterbi DP is ONE Spark SQL ``aggregate`` fold per word (no
  join, no Python): position j's best extends position i's best by
  the piece word[i..j] for i in the trailing ``_UG_MAXP`` window.
- Encoding Viterbi-segments each DISTINCT corpus word map-side and
  joins piece counts back to the token stream on the word key — the
  wordpiece_trained_encode shape.

Bit-exactness: probabilities are single divisions of exact integers;
Viterbi scores are products of those doubles built by the identical
left-to-right fold in both engines (IEEE multiplication is
deterministic), and the argmax is first-maximum under ascending
position in both (Spark: strict-``>`` fold; DuckDB: ROW_NUMBER ordered
score DESC then start position ASC) — so segmentations, and hence
the integer sufficient statistics the gate hashes, match bit-for-bit.

Oracle: the DuckDB twin derives the same dictionary/seed vocab and
unrolls the same EM rounds; each round's Viterbi DP is a PURELY
RELATIONAL static unroll over positions 1..``_UG_MAXW`` (per-position
best CTEs: ≤``_UG_MAXP`` equi-joins of earlier bests against the
piece table on the connecting substring, then a ROW_NUMBER argmax
ordered (score DESC, start position ASC) — exactly the strict-``>``
left fold's first-maximum).  Lambda-free and recursion-free on
purpose: DuckDB 1.0 miscompiles expressions inside recursive-CTE
lambdas when a carried MAP/list column comes from a join/unnest chain
(a second ``substr`` occurrence intermittently evaluates to '' —
reproduced during this build), and its decorrelation of join-bearing
correlated subqueries inside recursion drops struct_pack field names.
The unroll caps dictionary/DP words at ``_UG_MAXW`` chars — the
trainer's max-word-length contract, enforced identically in the Spark
twin (SentencePiece's max sentence length, scaled to words); longer
corpus words take the character-count fallback at encode time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.queries.bpe import _BPE_VOCAB
from trx_spark.queries.curation import _TOKEN_RE

# the Spark twin's dictionary comes from bpe._word_freq, so the oracle
# MUST interpolate the same limit and token regex — shared constants,
# not redeclared literals (they would silently drift apart)
_UG_DICT = _BPE_VOCAB  # words in the training dictionary (top-K by freq)
_UG_MAXP = 4  # max piece length considered
_UG_SEED = 48  # multi-char seed pieces kept (plus all single chars)
_UG_ROUNDS = 4  # hard-EM rounds (static unroll, mirrored in the oracle)
_UG_MAXW = 12  # max word length the DP segments (longer → fallback)

# Viterbi DP over one word as a single Spark SQL expression: acc[k] =
# best (score, segmentation) for the prefix of length k-1; step j
# extends acc[i] (i in the trailing _UG_MAXP window) by piece
# word[i..j].  The candidate stage binds each substring and its
# broadcast-map probe ONCE (Catalyst does no common-subexpression
# elimination inside higher-order-function lambdas, and try_element_at
# is the ANSI-safe NULL-on-missing probe): a missing piece yields a
# NULL product, and NULL > sentinel is NULL, so it never wins the
# fold; unreachable previous states (sc ≤ 0) are filtered out first.
# The final fold keeps the FIRST maximum over ascending start
# position (strict >), matching the oracle's ROW_NUMBER tie-break.
# Returns the 1-best segmentation, or NULL when the word is not
# segmentable under the map (char not in vocab / underflow).
_UG_DP_EXPR = f"""
aggregate(
  sequence(1, length(word)),
  array(named_struct('sc', CAST(1.0 AS DOUBLE),
                     'seg', CAST(array() AS array<string>))),
  (acc, j) -> acc || array(
    aggregate(
      transform(
        filter(
          transform(sequence(greatest(1, j - {_UG_MAXP - 1}), j),
                    i -> named_struct(
                      'i', i, 'pc', substring(word, i, j - i + 1))),
          c -> element_at(acc, c.i).sc > CAST(0.0 AS DOUBLE)),
        c -> named_struct(
          'sc', element_at(acc, c.i).sc * try_element_at(m, c.pc),
          'seg', element_at(acc, c.i).seg || array(c.pc))),
      named_struct('sc', CAST(-1.0 AS DOUBLE),
                   'seg', CAST(array() AS array<string>)),
      (b, c) -> CASE WHEN c.sc > b.sc THEN c ELSE b END)),
  acc -> IF(element_at(acc, length(word) + 1).sc > CAST(0.0 AS DOUBLE),
            element_at(acc, length(word) + 1).seg,
            CAST(NULL AS array<string>)))
"""

# all substrings up to _UG_MAXP chars of one word (overlapping
# positions each count once per occurrence)
_UG_SUBSTR_EXPR = f"""
flatten(transform(sequence(1, length(word)), i ->
  transform(sequence(1, least({_UG_MAXP}, length(word) - i + 1)),
            l -> substring(word, i, l))))
"""


def _ug_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training dictionary: bpe's top-_UG_DICT (word, freq)
    restricted to words the position unroll can segment (length ≤
    _UG_MAXW) — the filter applies AFTER the top-K pick, mirrored in
    the oracle's dict CTE."""
    from trx_spark.queries.bpe import _word_freq

    return _word_freq(spark, sf_dir).filter(F.length("word") <= _UG_MAXW)


def _seed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(piece, cnt): top-_UG_SEED multi-char substrings of the word
    dictionary by (cnt DESC, piece ASC) plus ALL single chars, counts
    freq-weighted by occurrence."""
    seedcnt = (
        _ug_words(spark, sf_dir)
        .select("freq", F.explode(F.expr(_UG_SUBSTR_EXPR)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    multi = (
        seedcnt.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(_UG_SEED)
    )
    return multi.unionByName(seedcnt.filter(F.length("piece") == 1))


def _prob_map(vocab: DataFrame) -> DataFrame:
    """1-row (m: map<string,double>) — piece → cnt / total, one IEEE
    division of exact integers per piece; broadcast into the DP."""
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    return (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            (F.col("cnt").cast("double") / F.col("tot").cast("double")).alias(
                "p"
            ),
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "p"))
            ).alias("m")
        )
    )


# trained state memo: (stats_df, final_vocab_df)
def _ug_train(spark: SparkSession, sf_dir: str):
    def build():
        words = _ug_words(spark, sf_dir).localCheckpoint()
        v0 = _seed_vocab(spark, sf_dir).localCheckpoint()
        vocab = v0
        stats_rows = []
        for r in range(1, _UG_ROUNDS + 1):
            seg = words.crossJoin(F.broadcast(_prob_map(vocab))).select(
                "freq", F.expr(_UG_DP_EXPR).alias("seg")
            )
            vitc = (
                seg.select("freq", F.explode("seg").alias("piece"))
                .groupBy("piece")
                .agg(F.sum("freq").alias("c"))
            )
            # M-step: +1 smoothing over the FULL seed set keeps every
            # probability positive (coverage for later rounds + encode)
            vocab = (
                v0.select("piece")
                .join(vitc, "piece", "left")
                .select(
                    "piece",
                    (F.lit(1) + F.coalesce(F.col("c"), F.lit(0)))
                    .cast("long")
                    .alias("cnt"),
                )
                .localCheckpoint()
            )
            stats_rows.append(
                vocab.crossJoin(
                    F.broadcast(vocab.agg(F.sum("cnt").alias("tot")))
                ).select(
                    F.lit(r).alias("em_round"),
                    "piece",
                    F.col("cnt").alias("piece_count"),
                    (
                        F.col("cnt").cast("double") / F.col("tot").cast("double")
                    ).alias("piece_prob"),
                )
            )
        stats = stats_rows[0]
        for s in stats_rows[1:]:
            stats = stats.unionByName(s)
        return (stats.localCheckpoint(), vocab)

    return memo("unigram_trained", (spark, sf_dir), build)


def unigram_em_round_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's per-round sufficient statistics: (em_round, piece,
    piece_count, piece_prob) for every seed piece after each hard-EM
    round — piece_count is the exact +1-smoothed freq-weighted Viterbi
    count (integer) and piece_prob its single-division probability."""
    stats, _ = _ug_train(spark, sf_dir)
    return stats


def unigram_trained_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment every document with the round-``_UG_ROUNDS`` unigram LM
    (Viterbi 1-best per distinct word): per doc (n_tokens, n_pieces,
    pieces_per_token); unsegmentable words (chars outside the seed
    alphabet) fall back to character count — the open-vocabulary
    contract of bpe_encode / wordpiece_trained_encode."""
    from trx_spark.queries.curation import _toks_base

    _, vocab = _ug_train(spark, sf_dir)
    toks = _toks_base(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("word")
    )
    dw = (
        toks.select("word")
        .distinct()
        .filter(F.length("word") <= _UG_MAXW)
        .crossJoin(F.broadcast(_prob_map(vocab)))
        .select("word", F.expr(_UG_DP_EXPR).alias("seg"))
        .select(
            "word",
            # explicit NULL guard: size(NULL) is -1 under legacy/ansi-off
            # sessions but NULL under the driver's vanilla ANSI session
            F.when(
                F.col("seg").isNotNull(), F.size("seg").cast("long")
            ).alias("np"),
        )
    )
    joined = toks.join(dw, "word", "left").select(
        "doc_id",
        # over-length words miss dw; unsegmentable words have size(NULL)
        # = NULL — both take the character-count fallback
        F.coalesce(F.col("np"), F.length("word").cast("long")).alias("np"),
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("np").alias("n_pieces"),
        (
            F.sum("np").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("pieces_per_token"),
    )



# ---------------------------------------------------------------------
# DuckDB oracle: identical dictionary, seed, and EM unroll; each
# Viterbi DP is a lambda-free static unroll over positions (see module
# docstring for why recursion/lambdas are avoided).
# ---------------------------------------------------------------------

_UG_BASE_CTES = f"""
dict AS MATERIALIZED (
  SELECT word, freq FROM (
    SELECT word, freq FROM (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(text, '{_TOKEN_RE}')) AS t
            FROM documents)
      GROUP BY t)
    ORDER BY freq DESC, word LIMIT {_UG_DICT}) topk
  WHERE length(word) <= {_UG_MAXW}
),
seedcnt AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq,
               unnest(flatten(list_transform(
                 generate_series(1, length(word)), i ->
                   list_transform(
                     generate_series(1, least({_UG_MAXP},
                                              length(word) - i + 1)),
                     l -> substr(word, i, l))))) AS piece
        FROM dict) q
  GROUP BY piece
),
v0 AS MATERIALIZED (
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM seedcnt WHERE length(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT {_UG_SEED}) q
  UNION ALL
  SELECT piece, cnt FROM seedcnt WHERE length(piece) = 1
)"""


def _ug_dp_ctes(tag: str, src: str, vp: str) -> str:
    """The Viterbi DP over (word, freq) rows of ``src`` under the
    (piece, p) table ``vp``, unrolled per position: ``{tag}_b{t}`` =
    the 1-best (score, segmentation) for the length-``t`` prefix —
    ≤_UG_MAXP equi-joins of earlier bests on the connecting substring,
    then a first-maximum argmax (ROW_NUMBER ordered score DESC, start
    position ASC — the twin of _UG_DP_EXPR's strict-> fold).
    ``{tag}_vit`` collects each word's full-length best."""
    ctes = [
        f"""
{tag}_b0 AS MATERIALIZED (
  SELECT word, freq, CAST(1 AS DOUBLE) AS sc, CAST([] AS VARCHAR[]) AS seg
  FROM {src}
)"""
    ]
    for t in range(1, _UG_MAXW + 1):
        branches = "\n      UNION ALL\n".join(
            f"""      SELECT b.word, b.freq, b.sc * v.p AS sc,
             list_append(b.seg, substr(b.word, {i0 + 1}, {t - i0})) AS seg,
             {i0 + 1} AS i
      FROM {tag}_b{i0} b JOIN {vp} v
        ON v.piece = substr(b.word, {i0 + 1}, {t - i0})
      WHERE length(b.word) >= {t} AND b.sc > CAST(0 AS DOUBLE)"""
            for i0 in range(max(0, t - _UG_MAXP), t)
        )
        ctes.append(
            f"""
{tag}_b{t} AS MATERIALIZED (
  SELECT word, freq, sc, seg FROM (
    SELECT word, freq, sc, seg,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY sc DESC, i) AS rn
    FROM (
{branches}
    ) cand) ranked
  WHERE rn = 1
)"""
        )
    vit = "\n  UNION ALL\n".join(
        f"  SELECT word, freq, seg FROM {tag}_b{t} WHERE length(word) = {t}"
        for t in range(1, _UG_MAXW + 1)
    )
    ctes.append(f"""
{tag}_vit AS MATERIALIZED (
{vit}
)""")
    return ",".join(ctes)


def _ug_round_ctes(r: int) -> str:
    prev = "v0" if r == 1 else f"v{r - 1}"
    return f"""
vp{r - 1} AS MATERIALIZED (
  SELECT piece,
         CAST(cnt AS DOUBLE) /
         CAST((SELECT CAST(SUM(cnt) AS BIGINT) FROM {prev}) AS DOUBLE) AS p
  FROM {prev}
),{_ug_dp_ctes(f"r{r}", "dict", f"vp{r - 1}")},
v{r} AS MATERIALIZED (
  SELECT v0.piece, CAST(1 + COALESCE(vc.c, 0) AS BIGINT) AS cnt
  FROM v0 LEFT JOIN (
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS c
    FROM (SELECT freq, unnest(seg) AS piece FROM r{r}_vit) q
    GROUP BY piece) vc ON v0.piece = vc.piece
)"""


def _ug_train_ctes() -> str:
    return _UG_BASE_CTES + "," + ",".join(
        _ug_round_ctes(r) for r in range(1, _UG_ROUNDS + 1)
    )


_UG_STATS_SQL = (
    "WITH " + _ug_train_ctes() + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS em_round, piece, cnt AS piece_count, "
        f"CAST(cnt AS DOUBLE) / "
        f"CAST((SELECT CAST(SUM(cnt) AS BIGINT) FROM v{r}) AS DOUBLE) "
        f"AS piece_prob FROM v{r}"
        for r in range(1, _UG_ROUNDS + 1)
    )
)

_UG_ENCODE_SQL = (
    "WITH " + _ug_train_ctes() + f""",
vp{_UG_ROUNDS} AS MATERIALIZED (
  SELECT piece,
         CAST(cnt AS DOUBLE) /
         CAST((SELECT CAST(SUM(cnt) AS BIGINT) FROM v{_UG_ROUNDS})
              AS DOUBLE) AS p
  FROM v{_UG_ROUNDS}
),
tok AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_TOKEN_RE}')) AS word
  FROM documents
),
dwords AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS freq
  FROM (SELECT DISTINCT word FROM tok) q
  WHERE length(word) <= {_UG_MAXW}
),{_ug_dp_ctes("enc", "dwords", f"vp{_UG_ROUNDS}")}
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(COALESCE(CAST(len(e.seg) AS BIGINT), length(t.word)))
    AS BIGINT) AS n_pieces,
  CAST(SUM(COALESCE(CAST(len(e.seg) AS BIGINT), length(t.word)))
    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pieces_per_token
FROM tok t LEFT JOIN enc_vit e ON t.word = e.word
GROUP BY t.doc_id
"""
)

QUERIES = {
    "unigram_em_round_stats": unigram_em_round_stats,
    "unigram_trained_encode": unigram_trained_encode,
}

ORACLES = {
    "unigram_em_round_stats": _UG_STATS_SQL,
    "unigram_trained_encode": _UG_ENCODE_SQL,
}
