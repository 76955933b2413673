"""Corpus-curation operators a 100 TB training-data pipeline needs
beyond dedup: benchmark-contamination detection, deterministic
stratified sampling, global n-gram frequency, and per-key reservoir
sampling.

Scale design notes (local[32] tests correctness; the plans target a
1000-executor cluster):

- ``contamination_check``: the benchmark set is tiny relative to the
  corpus, so AQE broadcasts its exploded shingles from their runtime
  size (no explicit hint — the gate's doc_id%20 benchmark PROXY grows
  with the corpus, unlike a real fixed eval set); the corpus side is
  map-side shingled and the only full shuffle is the final groupBy on
  doc_id. A naive corpus×benchmark cross join would be quadratic; the
  shingle equi-join is linear in total shingle count.
- ``stratified_sample`` / ``per_source_sample``: sampling decisions are
  pure per-row arithmetic on doc_id (deterministic affine hash), so the
  sample is reproducible across engines, retries, and partitionings —
  the property a resumable 100 TB job needs. ``stratified_sample`` has
  zero shuffles; ``per_source_sample`` shuffles once on the stratum key
  (a properly partitioned window, never a global sort).
- ``topk_ngrams``: partial hash-agg (map-side combine) on the exploded
  bigrams, then ``TakeOrderedAndProject`` for the limit — per-partition
  top-k on the map side, only k rows per partition reach the driver-side
  merge; no global sort of the full n-gram table.

All hashes are arithmetic (affine mod Mersenne-31) so the DuckDB oracle
reproduces them bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import dfinal, dsum, fint, sql_dsum
from trx_spark.tables import load_table

_TOKEN_RE = "[a-z]+"
_P = 2147483647  # 2^31 − 1

# ---------------------------------------------------------------------
# Benchmark-contamination detection
# ---------------------------------------------------------------------
#
# The held-out "benchmark" is a deterministic 1-in-20 slice of the
# corpus (doc_id % 20 == 0) standing in for an eval set. A corpus
# document is contaminated when it shares at least one _SHINGLE_N-token
# shingle with any benchmark document — the n-gram-overlap decontam
# rule used by public LLM data pipelines (e.g. 13-gram overlap in the
# GPT-3 / The Pile writeups; smaller n here because the synthetic docs
# draw from a ~30-word vocabulary).

_SHINGLE_N = 8
_BENCH_MOD = 20


# The corpus-stats stages all start from the regex tokenization of
# every document — the single most repeated piece of work in the set.
# Memoize the tokenized base (doc_id, source, toks ARRAY) once per
# session; the shingle/bigram/token streams derive from its checkpoint
# with pure array math, never re-running the regex.
def _toks_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        from trx_spark.tables import fan_out_small_scan

        # regex tokenize is map-only — fan the small scan out so it
        # parallelizes (no-op at cluster scale; tables.py docstring)
        docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
        toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
        return docs.select(
            "doc_id", "source", toks.alias("toks")
        ).localCheckpoint()

    return memo("tokenized_base", (spark, sf_dir), build)


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        base = _toks_base(spark, sf_dir)
        n = F.size(F.col("toks"))
        # gated on n >= _SHINGLE_N: Spark's sequence(1, 0) is the
        # DESCENDING [1, 0] (not empty), and slice(toks, 0, k) then
        # THROWS — a short doc must emit no shingles (the DuckDB
        # oracle's generate_series(1, 0) is empty), never crash the job
        shingles = F.when(
            n >= _SHINGLE_N,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - (_SHINGLE_N - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i, _SHINGLE_N), " "
                    ),
                )
            ),
        )
        return base.select(
            "doc_id", F.explode(shingles).alias("shingle")
        ).localCheckpoint()

    return memo("shingle_stream", (spark, sf_dir), build)


# ---------------------------------------------------------------------
# Bloom-filter decontamination (the broadcast-filter scale path)
# ---------------------------------------------------------------------
#
# The shingle equi-join above shuffles corpus shingles against the
# benchmark set; at 100 TB the standard alternative ships a COMPACT
# BLOOM FILTER of the benchmark shingles to every executor and tests
# membership map-side — no shuffle of the corpus at all (false
# positives quarantine a few clean docs; no false negatives). The
# filter here is fully deterministic: k=2 affine hashes of the
# char-fold shingle hash, m = _BLOOM_BITS = 131072 bits packed into
# 4096 words of 32
# bits each (shifts stay < 32 — DuckDB checks shift overflow at bit 63,
# Spark wraps silently; 32-bit packing keeps both engines in exact
# agreement) via a bit_or aggregate — pure integer math, so DuckDB
# reproduces the exact same filter and the gate checks it bit-for-bit.

_BLOOM_BITS = 131072  # m >> k*n keeps FPR low; still only 4096 words to broadcast
_BLOOM_WORDS = _BLOOM_BITS // 32
_BLOOM_A2, _BLOOM_B2 = 1103515245, 12345


# the built filter (≤_BLOOM_WORDS rows, ~32 KiB) is a shared stage like
# the shingle stream itself: decontam probes it twice (k=2 word
# lookups), and rebuilding the bench-side aggregation under each
# broadcast doubled the query's first-run cost (the r7 bench
# regression — the aggregation ran once per broadcast instead of once)
def _bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trx_spark.queries.textdata import _tok_hash

    def build():
        sh = _shingled(spark, sf_dir)
        h1 = _tok_hash(F.col("shingle"))
        h2 = (h1 * _BLOOM_A2 + _BLOOM_B2) % _P
        bits = F.explode(
            F.array((h1 % _BLOOM_BITS), (h2 % _BLOOM_BITS))
        ).alias("bit")
        return (
            sh.where(F.col("doc_id") % _BENCH_MOD == 0)
            .select(bits)
            .select(
                (F.col("bit") / 32).cast("long").alias("word"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))"
                ).alias("m"),
            )
            .groupBy("word")
            .agg(F.bit_or("m").alias("mask"))
            .localCheckpoint()
        )

    return memo("bloom_filter_words", (spark, sf_dir), build)


def _bloom_masks_lit(spark: SparkSession, sf_dir: str) -> str:
    """The packed filter as a DENSE _BLOOM_WORDS-long SQL literal array
    (missing words = 0, the former left-join coalesce(mask, 0)) —
    bounded at 4096 longs BY CONSTRUCTION, collected once per session
    beside the words checkpoint and constant-folded into one
    Literal ArrayData, so every probe is a map-side element_at instead
    of two broadcast hash joins per call (the codebook-literal
    discipline, operators/kmeans.py)."""
    def build():
        dense = [0] * _BLOOM_WORDS
        for r in _bloom_words(spark, sf_dir).collect():
            dense[int(r["word"])] = int(r["mask"])
        return "array({})".format(", ".join(f"{v}L" for v in dense))

    return memo("bloom_masks_lit", (spark, sf_dir), build)


def decontam_bloom_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-corpus-doc Bloom membership stats vs the benchmark filter:
    (doc_id, n_shingles, n_bloom_hits, flagged). ``flagged`` is a
    superset of true contamination (Bloom has no false negatives —
    pinned by test_bloom_superset).  Both bit probes are map-side
    element_at lookups into the literal packed filter (same integers
    as the former broadcast-join + coalesce form — exact bitwise ops
    either way), so the whole query is one scan + one aggregation."""
    from trx_spark.queries.textdata import _tok_hash

    sh = _shingled(spark, sf_dir)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    h1 = _tok_hash(F.col("shingle"))
    h2 = (h1 * _BLOOM_A2 + _BLOOM_B2) % _P
    masks = _bloom_masks_lit(spark, sf_dir)
    probes = sh.where(~is_bench).select(
        "doc_id",
        (h1 % _BLOOM_BITS).alias("b1"),
        (h2 % _BLOOM_BITS).alias("b2"),
    )

    def _probe(b: str) -> F.Column:
        m = f"element_at({masks}, CAST({b} / 32 AS INT) + 1)"
        return F.expr(
            f"({m} & shiftleft(CAST(1 AS BIGINT), CAST({b} % 32 AS INT))) != 0"
        )

    hit = _probe("b1") & _probe("b2")
    return (
        probes.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit.cast("long")).alias("n_bloom_hits"),
        )
        .withColumn("flagged", F.col("n_bloom_hits") > 0)
    )


def _bloom_sql() -> str:
    from trx_spark.queries.textdata import _tok_hash_sql

    th = _tok_hash_sql("shingle")
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s.shingle
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - {_SHINGLE_N - 1}, 0)),
      i -> array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' '))) AS s(shingle)
),
hs AS (
  SELECT doc_id, {th} AS h1 FROM sh
),
hh AS (
  SELECT doc_id, h1, (h1 * {_BLOOM_A2} + {_BLOOM_B2}) % {_P} AS h2 FROM hs
),
bench_bits AS (
  SELECT b.bit FROM hh, UNNEST([h1 % {_BLOOM_BITS}, h2 % {_BLOOM_BITS}]) AS b(bit)
  WHERE doc_id % {_BENCH_MOD} = 0
),
words AS (
  SELECT CAST(bit // 32 AS BIGINT) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER)) AS mask
  FROM bench_bits GROUP BY 1
),
probes AS (
  SELECT doc_id, h1 % {_BLOOM_BITS} AS b1, h2 % {_BLOOM_BITS} AS b2
  FROM hh WHERE doc_id % {_BENCH_MOD} <> 0
),
hits AS (
  SELECT p.doc_id,
    ((COALESCE(w1.mask, 0) & (CAST(1 AS BIGINT) << CAST(p.b1 % 32 AS INTEGER))) <> 0
     AND
     (COALESCE(w2.mask, 0) & (CAST(1 AS BIGINT) << CAST(p.b2 % 32 AS INTEGER))) <> 0
    ) AS hit
  FROM probes p
  LEFT JOIN words w1 ON w1.word = p.b1 // 32
  LEFT JOIN words w2 ON w2.word = p.b2 // 32
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
  (SUM(CASE WHEN hit THEN 1 ELSE 0 END) > 0) AS flagged
FROM hits GROUP BY doc_id
"""


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing ≥1 8-token shingle with the benchmark slice.

    Returns (doc_id, n_shared_shingles, n_benchmark_docs): how many
    distinct shingles of the doc appear anywhere in the benchmark, and
    how many distinct benchmark docs it collides with.
    """
    shingled = _shingled(spark, sf_dir)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = shingled.where(is_bench).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    corpus = shingled.where(~is_bench)
    # no broadcast hint: a REAL benchmark is fixed-size (AQE will
    # broadcast it), but this gate's doc_id%20 proxy grows with the
    # corpus — hinting it would pin a driver-OOM at scale
    return (
        corpus.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("bench_doc_id").alias("n_benchmark_docs"),
        )
    )


_CONTAMINATION_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s.shingle
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - {_SHINGLE_N - 1}, 0)),
      i -> array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' '))) AS s(shingle)
)
SELECT c.doc_id,
       CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared_shingles,
       CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_benchmark_docs
FROM sh c JOIN sh b USING (shingle)
WHERE c.doc_id % {_BENCH_MOD} <> 0 AND b.doc_id % {_BENCH_MOD} = 0
GROUP BY c.doc_id
"""

def decontaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clean corpus: non-benchmark docs with ZERO shingle overlap
    with the benchmark slice — the anti-join composition of
    :func:`contamination_check` (this is the step a training pipeline
    actually runs; the check is its audit view). Same broadcast shingle
    join shape, flipped to ``left_anti``.
    """
    docs = load_table(spark, sf_dir, "documents")
    shingled = _shingled(spark, sf_dir)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench_shingles = shingled.where(is_bench).select("shingle").distinct()
    dirty = (
        shingled.where(~is_bench)
        .join(bench_shingles, "shingle", "left_semi")  # AQE decides (see above)
        .select("doc_id")
        .distinct()
    )
    return (
        docs.where(~is_bench)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


_DECONTAM_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s.shingle
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - {_SHINGLE_N - 1}, 0)),
      i -> array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' '))) AS s(shingle)
),
dirty AS (
  SELECT DISTINCT c.doc_id
  FROM sh c JOIN sh b USING (shingle)
  WHERE c.doc_id % {_BENCH_MOD} <> 0 AND b.doc_id % {_BENCH_MOD} = 0
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id % {_BENCH_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM dirty)
"""

# ---------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------
#
# Per-language keep rates out of 100, decided by an affine hash of
# doc_id — reproducible under retries and any partitioning (no RNG, no
# sample() nondeterminism). This is how a production pipeline builds
# fixed eval slices from a 100 TB corpus: one scan, zero shuffles.

_STRATA_RATES = {"en": 50, "de": 25, "es": 25, "fr": 25}  # others: 10
_DEFAULT_RATE = 10
_SAMPLE_A, _SAMPLE_B = 1103515245, 12345


def _sample_hash_col():
    # doc_id is reduced mod P before the multiply so the product stays
    # inside int64 for ANY id (Spark would wrap silently on overflow,
    # DuckDB would error — reducing first keeps both engines exact)
    return (F.col("doc_id") % _P * _SAMPLE_A + _SAMPLE_B) % _P % 100


def _rate_col():
    """The per-stratum sampling rate as ONE shared Column expression —
    stratified_sample and quality_stratified_sample must draw from the
    identical rule or the composed sample stops being a subset."""
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return rate


def _rate_case_sql(col: str = "lang") -> str:
    """The SQL twin, parameterized by the qualified column reference
    (a post-hoc string replace of 'lang' would rewrite EVERY
    occurrence of that substring in the fragment, not just the
    column)."""
    return (
        "CASE "
        + " ".join(f"WHEN {col} = '{k}' THEN {v}" for k, v in _STRATA_RATES.items())
        + f" ELSE {_DEFAULT_RATE} END"
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sample of the documents table."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(_sample_hash_col() < _rate_col()).select(
        "doc_id", "lang", "source", "n_chars"
    )


_RATE_CASE = _rate_case_sql()

_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE (doc_id % {_P} * {_SAMPLE_A} + {_SAMPLE_B}) % {_P} % 100 < {_RATE_CASE}
"""


def quality_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed last-mile selection a real pipeline runs: quality
    gate FIRST (C4/Gopher keep decision, rides the memoized signals
    checkpoint), then the deterministic per-language stratified sample
    over the survivors. Same hash → the picks are the stratified picks
    that also passed quality; one semi-join, no new shuffles of the
    corpus."""
    from trx_spark.queries.corpus import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    keep = quality_filter(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    return (
        docs.where(_sample_hash_col() < _rate_col())
        .join(keep, "doc_id", "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
    )


def _quality_stratified_sql() -> str:
    from trx_spark.queries.corpus import ORACLES as _CORPUS_ORACLES

    quality = _CORPUS_ORACLES["quality_filter"].strip().rstrip(";")
    return f"""
WITH q AS ({quality})
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE (d.doc_id % {_P} * {_SAMPLE_A} + {_SAMPLE_B}) % {_P} % 100 < {_rate_case_sql("d.lang")}
  AND d.doc_id IN (SELECT doc_id FROM q WHERE keep)
"""

# ---------------------------------------------------------------------
# Global top-k n-grams
# ---------------------------------------------------------------------

_NGRAM_K = 20


# topk_ngrams and bigram_rarity consume the SAME exploded (doc_id,
# bigram) stream; cms_heavy_hitters and dsir_weights the same (doc_id,
# source, token) stream. Memoize each localCheckpoint — same pattern
# as the shingle table above.
def _bigram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        base = _toks_base(spark, sf_dir)
        n = F.size(F.col("toks"))
        # gated on n >= 2 — same sequence(1, 0) footgun as _shingled
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.array_join(F.slice(F.col("toks"), i, 2), " "),
            ),
        )
        return base.select(
            "doc_id", F.explode(bigrams).alias("ngram")
        ).localCheckpoint()

    return memo("bigram_stream", (spark, sf_dir), build)


def _token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        "token_stream",
        (spark, sf_dir),
        lambda: _toks_base(spark, sf_dir).select(
            "doc_id", "source", F.explode(F.col("toks")).alias("token")
        ).localCheckpoint(),
    )


def topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's top-20 bigrams by total occurrence count.

    Plan: explode bigrams map-side → partial hash-agg (map-side
    combine shrinks each partition to its distinct bigrams) → final
    agg → ``TakeOrderedAndProject`` (per-partition top-k, only k rows
    per partition cross to the driver merge; the full bigram table is
    never globally sorted). Deterministic tie-break on the bigram text.
    """
    return (
        _bigram_stream(spark, sf_dir)
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(_NGRAM_K)
    )


_TOPK_NGRAMS_SQL = f"""
WITH t AS (
  SELECT regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
bg AS (
  SELECT b.ngram
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - 1, 0)),
      i -> toks[i] || ' ' || toks[i+1])) AS b(ngram)
)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM bg GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC
LIMIT {_NGRAM_K}
"""

# ---------------------------------------------------------------------
# Bigram-rarity scoring (perplexity proxy)
# ---------------------------------------------------------------------
#
# The cheap stand-in for LM-perplexity quality scoring: score each
# document by the mean INVERSE corpus frequency of its bigrams —
# common-phrase documents score low, rare-phrase documents high.
# (Real pipelines use an n-gram LM log-prob; log() isn't cross-engine
# bit-stable, so the score is mean 1/freq with the per-bigram term
# floored to fixed-point — same ranking signal, oracle-exact.)
#
# Plan: one partial hash-agg for the global bigram counts, one
# equi-join of the per-doc bigrams back onto them (no broadcast hint —
# the distinct-bigram table grows with the corpus), one groupBy doc_id.

_RARITY_SCALE = 1_000_000_000  # 1e9 fixed-point for the 1/freq terms


def bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean inverse bigram frequency (higher = rarer text)."""
    # the shared exploded bigram stream feeds BOTH the count agg and
    # the join-back (and topk_ngrams)
    db = _bigram_stream(spark, sf_dir)
    counts = db.groupBy("ngram").agg(F.count(F.lit(1)).alias("freq"))
    inv = F.floor(F.lit(float(_RARITY_SCALE)) / F.col("freq").cast("double")).cast(
        "long"
    )
    return (
        db.join(counts, "ngram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(inv).alias("rarity_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("rarity_fp").cast("double")
                / F.lit(float(_RARITY_SCALE))
                / F.col("n_bigrams").cast("double")
            ).alias("rarity_score"),
        )
    )


_RARITY_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
db AS (
  SELECT doc_id, b.ngram
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - 1, 0)),
      i -> toks[i] || ' ' || toks[i+1])) AS b(ngram)
),
counts AS (
  SELECT ngram, CAST(COUNT(*) AS BIGINT) AS freq FROM db GROUP BY ngram
)
SELECT db.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(CAST(FLOOR(CAST({_RARITY_SCALE} AS DOUBLE) / CAST(freq AS DOUBLE))
                AS BIGINT)) AS DOUBLE)
    / CAST({_RARITY_SCALE} AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rarity_score
FROM db JOIN counts USING (ngram)
GROUP BY db.doc_id
"""

# ---------------------------------------------------------------------
# Token counting: whitespace + BPE-ish regex
# ---------------------------------------------------------------------
#
# The token-budget estimator of a training pipeline. The BPE-ish
# pattern mirrors the GPT-2 pre-tokenizer's class structure restricted
# to classes both engines' regex dialects (Java util.regex / RE2)
# treat identically: letter runs, digit runs, single
# non-letter-digit-space marks. Whitespace tokens are the naive
# upper-word-count; bytes/BPE-token is the compression-rate proxy used
# to budget tokens from byte counts at 100 TB without tokenizing.

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n]"


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc whitespace vs BPE-ish token counts — zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        F.when(bpe > 0, F.col("n_chars").cast("double") / bpe.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("bytes_per_token"),
    )


_TOKEN_BPE_SQL = f"""
SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT)
    AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
  CASE WHEN len(regexp_extract_all(text, '{_BPE_RE}')) > 0
       THEN CAST(n_chars AS DOUBLE)
            / CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS DOUBLE)
       ELSE 0.0 END AS bytes_per_token
FROM documents
"""

# ---------------------------------------------------------------------
# Count-min-sketch heavy hitters
# ---------------------------------------------------------------------
#
# The bounded-memory frequency sketch (Cormode & Muthukrishnan 2005):
# d=4 hash rows × w=64 counters summarize the corpus token stream in
# 256 cells REGARDLESS of corpus size — the structure a 100 TB pipeline
# uses for global heavy-hitter stats when an exact token count table
# would not fit. CMS is deterministic given its hash family, so unlike
# HLL/t-digest it is oracle-checkable bit-for-bit. The query reports
# the sketch estimate next to the exact count for the true top tokens;
# estimate ≥ truth always (one-sided CMS error — asserted in tests).
#
# Plan: one explode feeds both the 256-cell sketch (partial agg — the
# shuffle carries ≤256 rows per partition) and the exact top-K
# (TakeOrderedAndProject). The estimate join is candidates(K·d rows) ⋈
# broadcast(sketch): the sketch is 256 rows BY CONSTRUCTION, so the
# hint is as justified as vocab_coverage's.

_CMS_COEF = [(31, 7), (131, 13), (523, 101), (1031, 257)]
_CMS_W = 64
_CMS_TOPK = 20


def _cms_cells(tid):
    """The d flattened cell ids (row j owns cells [j·w, (j+1)·w)) for
    one token id."""
    return F.array(
        *[
            ((F.lit(a) * tid + F.lit(b)) % _P % _CMS_W + F.lit(j * _CMS_W)).cast(
                "long"
            )
            for j, (a, b) in enumerate(_CMS_COEF)
        ]
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs count-min-sketch counts for the corpus top tokens."""
    from trx_spark.queries.textdata import _tok_hash

    tok = _token_stream(spark, sf_dir).select("token")
    sk = (
        tok.select(F.explode(_cms_cells(_tok_hash(F.col("token")))).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("token"))
        .limit(_CMS_TOPK)
    )
    cand = truth.select(
        "token",
        "true_count",
        F.explode(_cms_cells(_tok_hash(F.col("token")))).alias("cell"),
    )
    return (
        cand.join(F.broadcast(sk), "cell")
        .groupBy("token", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "token",
            "true_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_count")).alias("overestimate"),
        )
    )


def _cms_cells_sql(tid_expr: str, select: str, source: str) -> str:
    return "\n  UNION ALL ".join(
        f"SELECT {select}, (({a} * {tid_expr} + {b}) % {_P}) % {_CMS_W} + {j * _CMS_W} AS cell"
        f" FROM {source}"
        for j, (a, b) in enumerate(_CMS_COEF)
    )


def _cms_sql() -> str:
    from trx_spark.queries.textdata import _tok_hash_sql

    tid = _tok_hash_sql("token")
    return f"""
WITH tok AS (
  SELECT s.token
  FROM (SELECT regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents) t,
       UNNEST(toks) AS s(token)
),
cellrows AS (
  {_cms_cells_sql(tid, "token", "tok")}
),
sk AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS c FROM cellrows GROUP BY cell),
truth AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count FROM tok GROUP BY token
  ORDER BY true_count DESC, token ASC LIMIT {_CMS_TOPK}
),
cand AS (
  {_cms_cells_sql(tid, "token, true_count", "truth")}
)
SELECT cand.token, cand.true_count,
       MIN(sk.c) AS cms_estimate,
       MIN(sk.c) - cand.true_count AS overestimate
FROM cand JOIN sk USING (cell)
GROUP BY cand.token, cand.true_count
"""


# ---------------------------------------------------------------------
# Vocabulary coverage / OOV rate
# ---------------------------------------------------------------------
#
# The tokenizer-fit diagnostic: build the top-K corpus vocabulary and
# report each document's out-of-vocabulary token rate. Unlike the
# corpus-growing join sides above, the vocab is K rows BY CONSTRUCTION
# (a fixed tokenizer budget), so the explicit broadcast() is correct at
# any corpus size — the one curation join where a hint is justified.
# Plan: one explode → partial hash-agg → TakeOrderedAndProject (K) →
# collapse the K vocab rows to ONE array row → broadcast → the
# coverage itself is per-doc array math (no second explode, no keyed
# shuffle of the corpus — the 1-row build side is the documented
# nested-loop-join exception).

_VOCAB_K = 16


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate against the corpus top-_VOCAB_K vocabulary
    (docs with zero tokens emit no row). Rides the memoized tokenized
    base + token stream — the regex pass is the module's 'single most
    repeated piece of work' and must not re-run per consumer."""
    vocab = (
        _token_stream(spark, sf_dir)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(_VOCAB_K)
        .agg(F.sort_array(F.collect_list("token")).alias("va"))
    )
    base = _toks_base(spark, sf_dir).select("doc_id", "toks").where(
        F.size("toks") > 0
    )
    j = base.crossJoin(F.broadcast(vocab))
    n_tok = F.size("toks").cast("long")
    n_oov = F.size(
        F.filter(F.col("toks"), lambda t: ~F.array_contains(F.col("va"), t))
    ).cast("long")
    return j.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_oov.alias("n_oov"),
        (n_oov.cast("double") / n_tok.cast("double")).alias("oov_rate"),
    )


_VOCAB_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
dt AS (
  SELECT doc_id, s.token FROM t, UNNEST(toks) AS s(token)
),
vocab AS (
  SELECT list_sort(list(token)) AS va FROM (
    SELECT token, COUNT(*) AS c FROM dt GROUP BY token
    ORDER BY c DESC, token ASC LIMIT {_VOCAB_K})
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(list_filter(toks, x -> NOT list_contains(va, x))) AS BIGINT) AS n_oov,
  CAST(len(list_filter(toks, x -> NOT list_contains(va, x))) AS DOUBLE)
    / CAST(len(toks) AS DOUBLE) AS oov_rate
FROM t CROSS JOIN vocab
WHERE len(toks) > 0
"""

# ---------------------------------------------------------------------
# Per-key reservoir sampling
# ---------------------------------------------------------------------

_RESERVOIR_K = 3


# Stage-1 survivor target for the two-stage sample: the per-source
# hash threshold is sized so ~this many rows of EACH source reach the
# rank window, independent of source size — a dominant source no
# longer funnels through one task.
_RESERVOIR_OVERSAMPLE = 10


def per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source sample (reservoir equivalent).

    The "random" order is the affine hash of doc_id, so the pick is
    reproducible. Two-stage for scale: a per-source hash threshold
    (sized from the source's row count to pass ~10·k rows) prefilters,
    and the per-source rank window runs on that ~constant-size survivor
    set. The k smallest hashes of a source are all below its threshold
    whenever ≥k of its rows are, so the picks are IDENTICAL to ranking
    the full source; sources with fewer than k survivors (tiny, or an
    unlucky hash draw) fall back to an exact rank over their full row
    set. Oracle unchanged: the two-stage plan is a pure execution
    strategy for the same ranking.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") % _P * _SAMPLE_A + _SAMPLE_B) % _P
    base = docs.select("source", "doc_id", "lang").withColumn("_h", h)
    # per-source counts: one row per source, small BY CONSTRUCTION
    target = float(_RESERVOIR_OVERSAMPLE * _RESERVOIR_K)
    thresholds = (
        base.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n_s"))
        .withColumn(
            "_thr",
            F.least(F.lit(float(_P)), F.lit(float(_P)) * F.lit(target) / F.col("_n_s")),
        )
        .select("source", "_thr")
    )
    survivors = base.join(F.broadcast(thresholds), "source").filter(
        F.col("_h") < F.col("_thr")
    )
    enough = (
        survivors.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n_surv"))
        .filter(F.col("_n_surv") >= _RESERVOIR_K)
        .select("source")
    )
    fast = survivors.drop("_thr").join(F.broadcast(enough), "source", "left_semi")
    slow = base.join(F.broadcast(enough), "source", "left_anti")
    w = Window.partitionBy("source").orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    return (
        fast.unionByName(slow)
        .withColumn("pick_rank", F.row_number().over(w))
        .where(F.col("pick_rank") <= _RESERVOIR_K)
        .select("source", "pick_rank", "doc_id", "lang")
    )


_PER_SOURCE_SQL = f"""
SELECT source, pick_rank, doc_id, lang
FROM (
  SELECT source, doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY (doc_id % {_P} * {_SAMPLE_A} + {_SAMPLE_B}) % {_P} ASC,
                    doc_id ASC) AS INT) AS pick_rank
  FROM documents
)
WHERE pick_rank <= {_RESERVOIR_K}
"""


# ---------------------------------------------------------------------
# Text normalization (the cleanup transform preceding dedup)
# ---------------------------------------------------------------------
#
# Exact dedup is only as good as its canonical form: two documents
# differing in whitespace runs or stray control characters should hash
# equal. The transform chain (strip non-printables → collapse
# whitespace → trim → lowercase) is pure regexp column math — ASCII
# character classes so Java regex and RE2 agree byte-for-byte.


def normalize_text_col(col):
    c = F.regexp_replace(col, "[^\\x20-\\x7e\\t\\n]", "")
    c = F.regexp_replace(c, "[ \\t\\n]+", " ")
    return F.lower(F.trim(c))


def normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text per doc + the content hash exact dedup keys on."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("raw_len"),
        F.length(norm).cast("long").alias("norm_len"),
        F.md5(norm.cast("binary")).alias("norm_hash"),
    )


_NORMALIZE_SQL = r"""
WITH n AS (
  SELECT doc_id, text,
    lower(trim(regexp_replace(
      regexp_replace(text, '[^\x20-\x7e\t\n]', '', 'g'),
      '[ \t\n]+', ' ', 'g'))) AS norm
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS raw_len,
  CAST(length(norm) AS BIGINT) AS norm_len,
  md5(norm) AS norm_hash
FROM n
"""

# ---------------------------------------------------------------------
# Temperature-based mixture sampling (data-mixing step)
# ---------------------------------------------------------------------
#
# The multilingual/source-rebalancing step of LLM data pipelines:
# sample source s with probability ∝ n_s^α (α < 1 upweights small
# sources — the "temperature" sampling of the multilingual-pretraining
# literature). α = 0.5 so the weight is sqrt(n_s): IEEE sqrt is
# correctly rounded on both engines, and the weight sum is carried as
# a fixed-point BIGINT so no float accumulation order leaks in. The
# per-row decision is the same deterministic affine hash as
# stratified_sample — one count aggregation (tiny: one row per
# source), a broadcast-size join back, zero extra shuffles of the
# corpus.

_MIX_TARGET = 200  # target sample size across the corpus


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature (α=0.5) mixture sample by source."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # fixed-point weight: floor(sqrt(n)·1e6) — exact on both engines
    w = fint(F.sqrt(F.col("n_s").cast("double")))
    weights = counts.withColumn("w_s", w)
    total = weights.agg(F.sum("w_s").alias("w_tot"))  # exact BIGINT sum
    rates = weights.crossJoin(F.broadcast(total)).select(
        "source",
        "n_s",
        # keep-threshold out of 1e6, via an IEEE tree both engines share
        F.floor(
            F.lit(float(_MIX_TARGET))
            * F.col("w_s").cast("double")
            / F.col("w_tot").cast("double")
            / F.col("n_s").cast("double")
            * F.lit(1e6)
        )
        .cast("long")
        .alias("thr"),
    )
    # rates is one row per source — bounded here, but source cardinality
    # is data-dependent at web scale (millions of domains), so no hint
    return (
        docs.join(rates, "source")
        .where((F.col("doc_id") % _P * _SAMPLE_A + _SAMPLE_B) % _P % 1_000_000 < F.col("thr"))
        .select("doc_id", "source", "lang")
    )


_MIXTURE_SQL = f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
),
weights AS (
  SELECT source, n_s,
         CAST(FLOOR(sqrt(CAST(n_s AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_s
  FROM counts
),
total AS (SELECT SUM(w_s) AS w_tot FROM weights),
rates AS (
  SELECT source, n_s,
         CAST(FLOOR(CAST({_MIX_TARGET} AS DOUBLE) * CAST(w_s AS DOUBLE)
                    / CAST(w_tot AS DOUBLE) / CAST(n_s AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS thr
  FROM weights, total
)
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN rates r ON d.source = r.source
WHERE (d.doc_id % {_P} * {_SAMPLE_A} + {_SAMPLE_B}) % {_P} % 1000000 < r.thr
"""

# ---------------------------------------------------------------------
# Per-source curation dashboard
# ---------------------------------------------------------------------


def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: doc counts, keep rate, and
    fixed-point mean quality signals — the monitoring view a pipeline
    operator watches per crawl source. Composes the quality signals
    (zero-shuffle projection) with ONE groupBy on the source key;
    map-side partials make the shuffle tiny (one row per source).
    """
    from trx_spark.queries.corpus import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    # rides the memoized signals checkpoint shared with quality_filter
    sig = quality_filter(spark, sf_dir).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("n_tokens").alias("total_tokens"),
        dsum(F.col("dup_word_frac")).alias("sum_dup_frac"),
        dsum(F.col("mean_word_len")).alias("sum_word_len"),
    )


def _quality_base_sql() -> str:
    # reuse the quality oracle as a subquery joined back to source
    from trx_spark.queries.corpus import ORACLES as _CORPUS_ORACLES

    return _CORPUS_ORACLES["quality_filter"].strip().rstrip(";")


_ROLLUP_SQL = f"""
WITH q AS ({{q}}),
j AS (SELECT q.*, d.source FROM q JOIN documents d USING (doc_id))
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  {sql_dsum('dup_word_frac')} AS sum_dup_frac,
  {sql_dsum('mean_word_len')} AS sum_word_len
FROM j GROUP BY source
"""


def _rollup_sql() -> str:
    return _ROLLUP_SQL.format(q=_quality_base_sql())


# ---------------------------------------------------------------------
# DSIR-style importance weights (data selection for a target domain)
# ---------------------------------------------------------------------
#
# Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by how much its hashed
# bag-of-words features look like a trusted TARGET domain vs the raw
# corpus. Features = char-fold token hash mod _DSIR_BUCKETS (the same
# map-side fold as MinHash — no dictionary, no shuffle); target = docs
# from _DSIR_TARGET_SOURCE (the trusted-domain stand-in on this
# testdata). The paper scores Σ_f [log p_target(f) − log q_raw(f)];
# log isn't cross-engine bit-stable, so the per-bucket evidence is the
# SMOOTHED fixed-point likelihood ratio
#     r[b] = floor(S · (ct[b]+1) / (cr[b]+B))
# and the doc weight is the exact integer mean of r over its token
# stream — the same monotone per-bucket signal, oracle-exact.
#
# Plan shape at 100 TB: two partial hash-aggs over the token stream
# (bucket grain, B rows each), a B-row ratio table broadcast BY
# CONSTRUCTION, one groupBy doc_id — no global structure, no windows.

_DSIR_BUCKETS = 64
_DSIR_TARGET_SOURCE = "src0"
_DSIR_SCALE = 1_000_000_000


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR importance weight for the target domain (docs with
    zero tokens emit no row, like the other token-grain queries)."""
    from trx_spark.queries.textdata import _tok_hash

    tb = _token_stream(spark, sf_dir).select(
        "doc_id", "source", (_tok_hash(F.col("token")) % _DSIR_BUCKETS).alias("b")
    )
    cr = tb.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    ct = (
        tb.filter(F.col("source") == _DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    ratio = (
        cr.join(ct, "b", "left")
        .select(
            "b",
            F.floor(
                F.lit(float(_DSIR_SCALE))
                * (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("cr") + F.lit(_DSIR_BUCKETS)).cast("double")
            )
            .cast("long")
            .alias("rb"),
        )
    )
    return (
        tb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("rb").alias("w_fp"))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("w_fp").cast("double")
                / F.lit(float(_DSIR_SCALE))
                / F.col("n_tokens").cast("double")
            ).alias("dsir_weight"),
        )
    )


def _dsir_sql() -> str:
    from trx_spark.queries.textdata import _tok_hash_sql

    return f"""
WITH tb AS (
  SELECT doc_id, source, {_tok_hash_sql('t.tok')} % {_DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, source, unnest(regexp_extract_all(text, '{_TOKEN_RE}')) AS tok
        FROM documents) t
),
cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM tb GROUP BY b),
ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
       FROM tb WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY b),
r AS (
  SELECT cr.b,
    CAST(FLOOR(CAST({_DSIR_SCALE} AS DOUBLE)
               * CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
               / CAST(cr.cr + {_DSIR_BUCKETS} AS DOUBLE)) AS BIGINT) AS rb
  FROM cr LEFT JOIN ct ON cr.b = ct.b
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(rb) AS DOUBLE) / CAST({_DSIR_SCALE} AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS dsir_weight
FROM tb JOIN r USING (b)
GROUP BY doc_id
"""


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty score: the fraction of the doc's distinct
    8-token shingles whose FIRST corpus occurrence (by doc_id order)
    is this doc — the freshness signal curriculum/dedup pipelines use
    to favor documents that add new content over re-combinations of
    already-seen text. Docs with no shingle (<8 tokens) emit no row.

    Plan: rides the memoized shingle stream; first-occurrence is a
    partial-aggregatable min() per shingle (the span_dedup keeper
    trick — no window), joined back and rolled up per doc."""
    sh = _shingled(spark, sf_dir)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


_NOVELTY_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s.shingle
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - {_SHINGLE_N - 1}, 0)),
      i -> array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' '))) AS s(shingle)
),
first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh JOIN first f USING (shingle)
GROUP BY sh.doc_id
"""



# deterministic 3-way holdout split: hash buckets 0-97 -> train,
# 98 -> validation, 99 -> test (≈98/1/1; a different affine hash than
# the sampling one so split and sample decisions are independent)
_SPLIT_A, _SPLIT_B = 69069, 54321


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, split): the canonical deterministic holdout
    assignment every training pipeline needs — a pure per-row affine
    hash of doc_id, so the split is reproducible across engines,
    retries, partitionings, and reruns (never a random() split, which
    leaks validation docs into training on every recompute). Zero
    shuffles; composes with the keep-list/manifest downstream."""
    docs = load_table(spark, sf_dir, "documents")
    b = (F.col("doc_id") % _P * _SPLIT_A + _SPLIT_B) % _P % 100
    split = (
        F.when(b >= 99, F.lit("test"))
        .when(b >= 98, F.lit("validation"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", "source", split.alias("split"))


_SPLIT_SQL = f"""
SELECT doc_id, source,
  CASE
    WHEN (doc_id % {_P} * {_SPLIT_A} + {_SPLIT_B}) % {_P} % 100 >= 99 THEN 'test'
    WHEN (doc_id % {_P} * {_SPLIT_A} + {_SPLIT_B}) % {_P} % 100 >= 98 THEN 'validation'
    ELSE 'train'
  END AS split
FROM documents
"""



def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-split decontamination report — the check pipelines actually
    get wrong: AFTER the holdout split, does any validation/test doc
    share verbatim 8-token shingles with any TRAIN doc? (Benchmark
    decontamination removes external eval sets; this audits the
    pipeline's own holdout against near-duplicate leakage, the thing
    that silently inflates validation scores.)

    Output: one row per holdout doc — (doc_id, split,
    n_leaked_shingles, n_train_docs, leaked); zero-overlap docs appear
    with 0s so the report is a complete ledger, not a hit list.

    Scale shape: the shingle⋈shingle equi-join keys on content; the
    holdout side is ~2 % of the corpus so AQE broadcasts it against
    the train side's scan. At 100 TB the bloom-prefilter pattern
    (``decontam_bloom_flags``) cuts the train-side shuffle before the
    exact join — same composition, same verdict."""
    split = train_val_test_split(spark, sf_dir).select("doc_id", "split")
    sh = _shingled(spark, sf_dir).join(split, "doc_id")
    train = sh.where(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    holdout_sh = sh.where(F.col("split") != "train").select("doc_id", "shingle")
    leak = (
        holdout_sh.join(train, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_leaked_shingles"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )
    holdout = split.where(F.col("split") != "train")
    return holdout.join(leak, "doc_id", "left").select(
        "doc_id",
        "split",
        F.coalesce("n_leaked_shingles", F.lit(0)).cast("long").alias("n_leaked_shingles"),
        F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
        (F.coalesce("n_leaked_shingles", F.lit(0)) > 0).alias("leaked"),
    )


_LEAKAGE_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s.shingle
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - {_SHINGLE_N - 1}, 0)),
      i -> array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' '))) AS s(shingle)
),
sp AS (
  SELECT doc_id,
    CASE
      WHEN (doc_id % {_P} * {_SPLIT_A} + {_SPLIT_B}) % {_P} % 100 >= 99 THEN 'test'
      WHEN (doc_id % {_P} * {_SPLIT_A} + {_SPLIT_B}) % {_P} % 100 >= 98 THEN 'validation'
      ELSE 'train'
    END AS split
  FROM documents
),
leak AS (
  SELECT c.doc_id,
         CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_leaked_shingles,
         CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs
  FROM sh c
  JOIN sp se ON se.doc_id = c.doc_id AND se.split <> 'train'
  JOIN sh tr ON tr.shingle = c.shingle
  JOIN sp st ON st.doc_id = tr.doc_id AND st.split = 'train'
  GROUP BY c.doc_id
)
SELECT e.doc_id, e.split,
  CAST(COALESCE(l.n_leaked_shingles, 0) AS BIGINT) AS n_leaked_shingles,
  CAST(COALESCE(l.n_train_docs, 0) AS BIGINT) AS n_train_docs,
  COALESCE(l.n_leaked_shingles, 0) > 0 AS leaked
FROM sp e LEFT JOIN leak l ON l.doc_id = e.doc_id
WHERE e.split <> 'train'
"""


# ---------------------------------------------------------------------
# Per-source token-distribution drift (the data-quality monitor every
# production corpus pipeline runs): how far does each source's token
# distribution sit from the corpus baseline? The standard spelling is
# PSI / KL (transcendental — not oracle-safe); Pearson's χ² over a
# bounded vocabulary measures the same drift with RATIONAL arithmetic:
# χ²(s) = Σ_b (obs_sb − exp_sb)² / exp_sb with exp from the corpus
# distribution, summed as fixed-point integers so the gate hashes it
# bit-for-bit. A spam/boilerplate source (token distribution collapsed
# onto few tokens) scores orders of magnitude above organic ones —
# the triage signal quality_filter acts on per doc, surfaced per
# SOURCE.
#
# Scale: two partial-aggregatable token groupBys, a ≤_DRIFT_V-row
# vocab broadcast, and a bounded sources×buckets grid (zero-observed
# buckets still contribute their expectation — the grid makes the χ²
# complete). Nothing data-sized shuffles beyond the token counts.
# ---------------------------------------------------------------------

_DRIFT_V = 32       # vocabulary buckets; the rest fold into <other>
_DRIFT_SCALE = 1e6  # fixed-point scale for the χ² term sum


def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, chisq, top_token, top_term): per-source χ²
    drift against the corpus token distribution over the top-_DRIFT_V
    vocabulary (+ <other>), with the largest-contributing bucket."""
    ts = _token_stream(spark, sf_dir)
    counts = ts.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("token"))
        .limit(_DRIFT_V)
        .select("token")
        .withColumn("_v", F.lit(1))
    )
    bucketed = ts.join(F.broadcast(vocab), "token", "left").select(
        "source",
        F.when(F.col("_v").isNotNull(), F.col("token"))
        .otherwise(F.lit("<other>"))
        .alias("bucket"),
    )
    corpus = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_cnt")
    )
    tot = corpus.agg(F.sum("c_cnt").alias("c_tot"))
    obs = bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("obs")
    )
    stot = bucketed.groupBy("source").agg(F.count(F.lit(1)).alias("s_tot"))
    grid = (
        stot.crossJoin(F.broadcast(corpus))  # bounded: sources × ≤V+1
        .join(obs, ["source", "bucket"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
    )
    exp = (
        F.col("s_tot").cast("double")
        * F.col("c_cnt").cast("double")
        / F.col("c_tot").cast("double")
    )
    term = (
        (F.col("obs").cast("double") - exp)
        * (F.col("obs").cast("double") - exp)
        / exp
    )
    g = grid.withColumn(
        "term_fp", fint(term, _DRIFT_SCALE)
    )
    return g.groupBy("source").agg(
        F.max("s_tot").alias("n_tokens"),
        dfinal(F.sum("term_fp"), _DRIFT_SCALE).alias("chisq"),
        F.max(F.struct(F.col("term_fp"), F.col("bucket"))).getField("bucket")
        .alias("top_token"),
        (
            F.max(F.struct(F.col("term_fp"), F.col("bucket"))).getField(
                "term_fp"
            ).cast("double")
            / F.lit(_DRIFT_SCALE)
        ).alias("top_term"),
    )


_DRIFT_SQL = f"""
WITH ts AS (
  SELECT doc_id, source, s.token
  FROM (SELECT doc_id, source,
               regexp_extract_all(text, '{_TOKEN_RE}') AS toks
        FROM documents) t, UNNEST(toks) AS s(token)
),
counts AS (SELECT token, COUNT(*) AS c FROM ts GROUP BY token),
vocab AS (
  SELECT token FROM counts ORDER BY c DESC, token LIMIT {_DRIFT_V}
),
bucketed AS (
  SELECT ts.source,
         CASE WHEN v.token IS NOT NULL THEN ts.token
              ELSE '<other>' END AS bucket
  FROM ts LEFT JOIN vocab v ON v.token = ts.token
),
corpus AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_cnt
  FROM bucketed GROUP BY bucket
),
tot AS (SELECT CAST(SUM(c_cnt) AS BIGINT) AS c_tot FROM corpus),
obs AS (
  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS obs
  FROM bucketed GROUP BY source, bucket
),
stot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS s_tot
  FROM bucketed GROUP BY source
),
grid AS (
  SELECT s.source, c.bucket, s.s_tot, c.c_cnt, t.c_tot,
         COALESCE(o.obs, 0) AS obs
  FROM stot s CROSS JOIN corpus c CROSS JOIN tot t
  LEFT JOIN obs o ON o.source = s.source AND o.bucket = c.bucket
),
terms AS (
  SELECT source, bucket, s_tot,
    CAST(FLOOR(
      ((CAST(obs AS DOUBLE)
        - CAST(s_tot AS DOUBLE) * CAST(c_cnt AS DOUBLE) / CAST(c_tot AS DOUBLE))
       * (CAST(obs AS DOUBLE)
          - CAST(s_tot AS DOUBLE) * CAST(c_cnt AS DOUBLE) / CAST(c_tot AS DOUBLE))
       / (CAST(s_tot AS DOUBLE) * CAST(c_cnt AS DOUBLE) / CAST(c_tot AS DOUBLE)))
      * {_DRIFT_SCALE!r}) AS BIGINT) AS term_fp
  FROM grid
)
SELECT source, MAX(s_tot) AS n_tokens,
  CAST(SUM(term_fp) AS DOUBLE) / {_DRIFT_SCALE!r} AS chisq,
  (MAX(ROW(term_fp, bucket)::STRUCT(term_fp BIGINT, bucket VARCHAR))).bucket
    AS top_token,
  CAST((MAX(ROW(term_fp, bucket)::STRUCT(term_fp BIGINT, bucket VARCHAR))).term_fp
    AS DOUBLE) / {_DRIFT_SCALE!r} AS top_term
FROM terms GROUP BY source
"""


# ---------------------------------------------------------------------
# PMI collocation mining over the memoized bigram stream
# ---------------------------------------------------------------------
#
# The classic collocation statistic: rank bigrams by pointwise mutual
# information against the bigram-position marginals — p(w1 w2) /
# (p(w1 ·) p(· w2)).  log() isn't cross-engine bit-stable, but PMI is
# a monotone transform of the LIFT c12·n / (c1·c2), which is ONE
# double division of two exact BIGINT products — so the ranking (and
# the gate value) is bit-portable.  Plan: one groupBy over the
# memoized bigram stream for the pair counts, two partial-aggregated
# marginal groupBys joined back on w1/w2 (equi-joins, no broadcast
# hint — marginal tables grow with vocabulary), the total-count scalar
# as the audited 1-row broadcast, TakeOrderedAndProject top-k.  Min
# support keeps the degenerate rare-pair PMI spikes out (the standard
# collocation-mining move), and cuts the join-back input.

_PMI_K = 20
_PMI_MIN_SUPPORT = 5


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by PMI lift (exact integer counts; lift
    is one int64→double division)."""
    bg = _bigram_stream(spark, sf_dir).select(
        F.split(F.col("ngram"), " ").getItem(0).alias("w1"),
        F.split(F.col("ngram"), " ").getItem(1).alias("w2"),
    )
    pair = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_SUPPORT)
    )
    m1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    m2 = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    total = bg.agg(F.count(F.lit(1)).alias("n_bigrams"))
    return (
        pair.join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            (
                (F.col("c12") * F.col("n_bigrams")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(_PMI_K)
    )


_PMI_SQL = f"""
WITH t AS (
  SELECT regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
bg AS (
  SELECT split_part(b.ngram, ' ', 1) AS w1, split_part(b.ngram, ' ', 2) AS w2
  FROM t, UNNEST(list_transform(
      generate_series(1, greatest(len(toks) - 1, 0)),
      i -> toks[i] || ' ' || toks[i+1])) AS b(ngram)
),
pair AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bg GROUP BY w1, w2
  HAVING COUNT(*) >= {_PMI_MIN_SUPPORT}
),
m1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
m2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w2),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bigrams FROM bg)
SELECT w1, w2, c12, c1, c2,
  CAST(c12 * n_bigrams AS DOUBLE) / CAST(c1 * c2 AS DOUBLE) AS lift
FROM pair JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN total
ORDER BY lift DESC, w1 ASC, w2 ASC
LIMIT {_PMI_K}
"""

# ---------------------------------------------------------------------
# Inverted-index posting-list census
# ---------------------------------------------------------------------

_IDX_K = 20


def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build statistics of an inverted index (the structure behind
    BM25/sparse retrieval at corpus scale): per token the document
    frequency (posting-list length), collection frequency, and the
    maximum within-doc term frequency — for the top-k tokens by
    collection frequency (bounded output; tie-break on the token).

    Plan: the memoized token stream collapses to (doc, token) term
    frequencies in one map-side-combining groupBy (exactly the shuffle
    an index build pays to co-locate postings), then one per-token
    aggregate and a TakeOrderedAndProject — never a global sort. At
    100 TB the (doc, token) aggregate IS the index build; the census is
    a free side output."""
    tf = (
        _token_stream(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.max("tf").alias("max_tf"),
        )
        .orderBy(F.desc("cf"), F.asc("token"))
        .limit(_IDX_K)
    )


_IDX_SQL = f"""
WITH ts AS (
  SELECT doc_id, s.token
  FROM (SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks
        FROM documents) t,
       UNNEST(toks) AS s(token)
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ts GROUP BY doc_id, token
)
SELECT token,
  CAST(COUNT(*) AS BIGINT) AS df,
  CAST(SUM(tf) AS BIGINT) AS cf,
  CAST(MAX(tf) AS BIGINT) AS max_tf
FROM tf GROUP BY token
ORDER BY cf DESC, token ASC
LIMIT {_IDX_K}
"""

QUERIES = {
    "source_token_drift": source_token_drift,
    "inverted_index_stats": inverted_index_stats,
    "contamination_check": contamination_check,
    "split_leakage_audit": split_leakage_audit,
    "ngram_novelty": ngram_novelty,
    "train_val_test_split": train_val_test_split,
    "decontaminated_docs": decontaminated_docs,
    "stratified_sample": stratified_sample,
    "topk_ngrams": topk_ngrams,
    "pmi_collocations": pmi_collocations,
    "bigram_rarity": bigram_rarity,
    "vocab_coverage": vocab_coverage,
    "cms_heavy_hitters": cms_heavy_hitters,
    "per_source_sample": per_source_sample,
    "token_count_bpe": token_count_bpe,
    "source_quality_rollup": source_quality_rollup,
    "mixture_sample": mixture_sample,
    "normalized_docs": normalized_docs,
    "dsir_weights": dsir_weights,
    "quality_stratified_sample": quality_stratified_sample,
    "decontam_bloom_flags": decontam_bloom_flags,
}

ORACLES = {
    "source_token_drift": _DRIFT_SQL,
    "inverted_index_stats": _IDX_SQL,
    "ngram_novelty": _NOVELTY_SQL,
    "split_leakage_audit": _LEAKAGE_SQL,
    "train_val_test_split": _SPLIT_SQL,
    "contamination_check": _CONTAMINATION_SQL,
    "decontaminated_docs": _DECONTAM_SQL,
    "stratified_sample": _STRATIFIED_SQL,
    "topk_ngrams": _TOPK_NGRAMS_SQL,
    "pmi_collocations": _PMI_SQL,
    "bigram_rarity": _RARITY_SQL,
    "vocab_coverage": _VOCAB_SQL,
    "cms_heavy_hitters": _cms_sql(),
    "per_source_sample": _PER_SOURCE_SQL,
    "token_count_bpe": _TOKEN_BPE_SQL,
    "source_quality_rollup": _rollup_sql(),
    "mixture_sample": _MIXTURE_SQL,
    "normalized_docs": _NORMALIZE_SQL,
    "dsir_weights": _dsir_sql(),
    "quality_stratified_sample": _quality_stratified_sql(),
    "decontam_bloom_flags": _bloom_sql(),
}
