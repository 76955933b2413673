"""Large-scale training-data operators over documents/embeddings:
dedup (exact, MinHash-LSH, n-gram Jaccard), text analysis (token stats,
quality scoring, language-ID), similarity search (brute-force cosine
top-k). Every hash is defined arithmetically over a corpus-derived token
dictionary so the DuckDB oracle reproduces it exactly (no engine hash
functions except MD5, which both engines implement identically).

Scale design: tokenization/shingling is per-row (map-side, no shuffle);
the vocab dictionary is a broadcast; MinHash-LSH turns the quadratic
pair search into an equi-join on band keys; brute-force cosine is the
top-k baseline with the query vector broadcast.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import dlit_array, dsum, sql_array_dot, sql_array_norm2, sql_dsum
from trx_spark.tables import fan_out_small_scan, load_table

logger = logging.getLogger(__name__)

_TOKEN_RE = "[a-z]+"
_P = 2147483647  # 2^31 − 1, Mersenne prime for the affine hash family
_MINHASH_COEF = [
    (1664525, 1013904223),
    (22695477, 1),
    (69069, 12345),
    (1103515245, 54321),
    (134775813, 1),
    (214013, 2531011),
    (75, 74),
    (1366, 150889),
]

# ---------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: MD5-group, keep the smallest doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.md5(F.col("text").cast("binary")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
"""

# ---------------------------------------------------------------------
# Token statistics + quality scoring (SURVEY extension: text analysis)
# ---------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "in")


def _tokens_col():
    return F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring: token/type counts, total token
    chars, stopword ratio, and a rational quality score (no
    transcendentals → oracle-exact)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = _tokens_col()
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(F.array_distinct(toks)).cast("long")
    total_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("long")
    stop_ratio = n_stop / n_tokens
    diversity = n_types / n_tokens
    quality = (2.0 * stop_ratio + diversity) * n_tokens / (n_tokens + 20.0)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        total_chars.alias("total_token_chars"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


_STOP_SQL_LIST = ", ".join(f"'{s}'" for s in _STOPWORDS)

_TOKEN_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars_actual,
         regexp_extract_all(text, '{_TOKEN_RE}') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, n_chars_actual,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_token_chars,
    CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL_LIST}))) AS BIGINT) AS n_stopwords
  FROM t
)
SELECT doc_id, CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
  n_tokens, n_types, total_token_chars, n_stopwords,
  n_stopwords / n_tokens AS stopword_ratio,
  (2.0 * (n_stopwords / n_tokens) + (n_types / n_tokens)) * n_tokens / (n_tokens + 20.0)
    AS quality_score
FROM m
"""

# ---------------------------------------------------------------------
# Language-ID by marker-token counting (n-gram heuristic)
# ---------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
}


def lang_marker_scores(toks) -> dict:
    """Per-language marker-token counts over a token-array column —
    THE marker table (shared with corpus.quality_signals so the two
    can never desynchronize)."""
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for lang, words in _LANG_MARKERS.items()
    }


def lang_argmax(s: dict):
    """The fixed argmax precedence (en > de > es > fr; 'und' when all
    scores are zero) over a {lang: score Column} dict."""
    return (
        F.when(s["en"] + s["de"] + s["es"] + s["fr"] == 0, F.lit("und"))
        .when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), F.lit("de"))
        .when(s["es"] >= s["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: count per-language marker tokens, argmax
    with a fixed precedence (en > de > es > fr; 'und' = undetermined when
    all scores are zero)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    scores = lang_marker_scores(_tokens_col())
    df = docs.select("doc_id", "lang", *[scores[k].alias(f"score_{k}") for k in _LANG_MARKERS])
    pred = lang_argmax({k: F.col(f"score_{k}") for k in _LANG_MARKERS})
    return df.withColumn("predicted_lang", pred)


def _marker_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"CAST(len(list_filter(toks, x -> x IN ({words}))) AS BIGINT)"


_LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
s AS (
  SELECT doc_id, lang,
    {_marker_sql('en')} AS score_en,
    {_marker_sql('de')} AS score_de,
    {_marker_sql('es')} AS score_es,
    {_marker_sql('fr')} AS score_fr
  FROM t
)
SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
  CASE
    WHEN score_en + score_de + score_es + score_fr = 0 THEN 'und'
    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
    WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
    WHEN score_es >= score_fr THEN 'es'
    ELSE 'fr'
  END AS predicted_lang
FROM s
"""

# ---------------------------------------------------------------------
# Token ids (shared by MinHash / fingerprint / SimHash):
# token_id = polynomial char fold (h·31 + ascii) mod (2³¹−1), computed
# MAP-SIDE from the token string itself. Round 1 used a corpus rank
# dictionary (row_number over a GLOBAL token sort) — the documented
# 100 TB bottleneck: every distinct token of the corpus funnels through
# one window task. The fold needs no dictionary, no join and no
# shuffle, and DuckDB reproduces it bit-exactly (same construction as
# the rolling doc fingerprint).
# ---------------------------------------------------------------------


def _tok_hash(t):
    """Token string → id: fold (acc·31 + ascii(char)) mod (2³¹−1).
    Pure column math (nested higher-order functions) — stays JVM-side."""
    return F.aggregate(
        F.transform(F.split(t, ""), F.ascii),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + c) % F.lit(_P),
    )


def _tok_hash_sql(t: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({t}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {_P})"
    )


_TIDS_CTE = f"""
tids AS (
  SELECT doc_id,
         list_transform(list_distinct(regexp_extract_all(text, '{_TOKEN_RE}')),
                        t -> {_tok_hash_sql('t')}) AS ids
  FROM documents
  WHERE len(regexp_extract_all(text, '{_TOKEN_RE}')) > 0
)"""

# ---------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs (near-dup detection)
# ---------------------------------------------------------------------


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-permutation MinHash over the distinct-token set of each doc,
    using the affine family h_j(x) = (a_j·x + b_j) mod (2³¹−1) on
    char-fold token ids. ZERO-shuffle: each signature row is an array
    fold over the doc's own tokens — a pure projection of the documents
    scan (docs with no tokens are excluded, as before)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    tids = F.transform(F.array_distinct(_tokens_col()), _tok_hash)
    d = docs.filter(F.size(_tokens_col()) > 0).withColumn("ids", tids)

    def affine(a, b):
        return lambda x: (F.lit(a) * x + F.lit(b)) % _P

    aggs = [
        F.array_min(F.transform(F.col("ids"), affine(a, b))).alias(f"mh{j}")
        for j, (a, b) in enumerate(_MINHASH_COEF)
    ]
    return d.select("doc_id", *aggs)


_MINHASH_SELECT = ",\n    ".join(
    f"list_min(list_transform(ids, x -> ({a} * x + {b}) % {_P})) AS mh{j}"
    for j, (a, b) in enumerate(_MINHASH_COEF)
)

_MINHASH_SQL = f"""
WITH {_TIDS_CTE}
SELECT doc_id,
    {_MINHASH_SELECT}
FROM tids
"""

# Degenerate LSH buckets (e.g. a mega-cluster of near-identical docs)
# produce quadratic candidate pairs inside the bucket; exact dedup
# already handles identical texts, so buckets above this size are
# dropped before the self-join — standard LSH practice, and the
# difference between a linear and a quadratic pair join at 100 TB.
_LSH_BUCKET_CAP = 64


# consumed by the gate query AND dedup_clusters' connected components —
# memoize the pair table
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows) over the MinHash signatures:
    candidate near-dup pairs = docs sharing any band. The quadratic pair
    search becomes an equi-join on (band, h_even, h_odd), and buckets
    with more than _LSH_BUCKET_CAP members are dropped pre-join (see
    cap note above)."""
    def build():
        # the self-join would recompute the signature lineage on both sides
        # — a local checkpoint materializes the tiny signature table once
        sig = minhash_signatures(spark, sf_dir).localCheckpoint()
        bands = sig.selectExpr(
            "doc_id",
            "stack(4, 0, mh0, mh1, 1, mh2, mh3, 2, mh4, mh5, 3, mh6, mh7) AS (band, hx, hy)",
        )
        w_bucket = Window.partitionBy("band", "hx", "hy")
        capped = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(w_bucket))
            .filter(F.col("_bsz") <= _LSH_BUCKET_CAP)
            .drop("_bsz")
        )
        a = capped.alias("a")
        b = capped.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.hx") == F.col("b.hx"))
                & (F.col("a.hy") == F.col("b.hy"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        return pairs.localCheckpoint()

    return memo("lsh_pairs", (spark, sf_dir), build)


# The CTE chain ending in ``pairs`` is shared with the connected-
# components clustering oracle (queries/corpus.py), which extends it
# with a recursive reachability CTE.
_PAIRS_CTES = f"""{_TIDS_CTE},
sig AS (
  SELECT doc_id,
    {_MINHASH_SELECT}
  FROM tids
),
bands AS (
  SELECT doc_id, 0 AS band, mh0 AS hx, mh1 AS hy FROM sig
  UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig
),
capped AS (
  SELECT doc_id, band, hx, hy FROM (
    SELECT *, count(*) OVER (PARTITION BY band, hx, hy) AS bsz FROM bands) t
  WHERE bsz <= {_LSH_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.hx = b.hx AND a.hy = b.hy AND a.doc_id < b.doc_id
)"""

_LSH_PAIRS_SQL = f"""
WITH {_PAIRS_CTES}
SELECT doc_a, doc_b FROM pairs
"""

# ---------------------------------------------------------------------
# n-gram (word 3-shingle) Jaccard similarity pairs
# ---------------------------------------------------------------------

_JACCARD_MIN = 0.2


# consumed by the gate query AND lsh_tuning_curve's similarity
# histogram — memoize the verified pair table so one bench session
# builds the shingle self-join once (r11 advice)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs: shingle sets per doc, pair
    candidates = docs sharing a shingle (the shingle join IS the
    blocking), J = |∩| / |∪| ≥ 0.2."""
    def build():
        # identical construction to the AllPairs/MinHash shingle spine —
        # ride the shared checkpointed memo instead of rebuilding it
        sh = _shingle_table(spark, sf_dir)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        out = (
            # sizes is one row per doc (scales with the corpus) — no hint,
            # AQE broadcasts at test scale and shuffles at corpus scale
            inter.join(sizes.withColumnRenamed("n_sh", "n_a"), inter.doc_a == F.col("doc_id"))
            .drop("doc_id")
            .join(sizes.withColumnRenamed("n_sh", "n_b"), F.col("doc_b") == F.col("doc_id"))
            .drop("doc_id")
            .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
            .filter(F.col("jaccard") >= _JACCARD_MIN)
            .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
        )
        # the pair table is tiny (near-dups only) — checkpoint it so the
        # second consumer in a session skips the shingle self-join entirely
        return out.localCheckpoint()

    return memo("jaccard_pairs", (spark, sf_dir), build)


_JACCARD_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(l) AS t, generate_subscripts(l, 1) AS pos
  FROM (SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS l FROM documents) x
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS shingle,
      lead(t, 2) OVER w AS t2
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) y
  WHERE t2 IS NOT NULL
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_MIN!r}
"""

# ---------------------------------------------------------------------
# Prefix-filtered exact similarity join (AllPairs/PPJoin — Bayardo,
# Ma & Srikant, WWW 2007 / Xiao et al., WWW 2008)
# ---------------------------------------------------------------------

_ALLPAIRS_T = 0.8  # Jaccard threshold
_ALLPAIRS_K = 3  # shingle width: unigram SETS are degenerate on this
# corpus (31-word vocabulary — every doc-pair collides); 3-gram
# shingle sets give a spread vocabulary where prefix filtering bites
_ALLPAIRS_KEY_CAP = 4096  # docs per prefix blocking key before the key
# is declared SATURATED and dropped-with-accounting (the
# streaming/dedup_index.py drop_saturated_keys semantics): a prefix key
# shared by >cap docs fans out >cap² candidate pairs — the one
# adversarial distribution that breaks the AllPairs cost model. The
# default never fires on non-degenerate corpora (PLANS.md documents the
# blocking-key distribution as the 100-TB monitoring target); a key
# that DOES saturate means >cap near-identical docs, which belongs to
# the dedup family, not an exact pairwise join.


# the distinct (doc_id, shingle) spine both the AllPairs truth build
# and the MinHash signature table derive from — the tokenize + 3-gram
# shingle pass is the dominant shared compute, materialized once per
# session (guide §2.1)
def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles per doc (doc_id, shingle),
    checkpointed + memoized."""
    def build():
        docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
        toks = docs.select(
            "doc_id", F.posexplode(_tokens_col()).alias("pos", "t")
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        return (
            toks.withColumn("t1", F.lead("t", 1).over(w))
            .withColumn("t2", F.lead("t", 2).over(w))
            .filter(F.col("t2").isNotNull())
            .select(
                "doc_id", F.concat_ws(" ", "t", "t1", "t2").alias("shingle")
            )
            .distinct()
            .localCheckpoint()
        )

    return memo("shingle_table", (spark, sf_dir), build)


# the exact pair table is the shared truth side of
# shingle_minhash_recall and a bench sibling of edit-distance style
# verifies — build it once per key_cap
def allpairs_jaccard_join(
    spark: SparkSession, sf_dir: str, *, key_cap: int = _ALLPAIRS_KEY_CAP
) -> DataFrame:
    """Memoizing wrapper over :func:`_allpairs_jaccard_join_build`
    (the algorithm and its guarantees are documented there)."""
    return memo(
        "allpairs_truth",
        (spark, sf_dir, key_cap),
        lambda: _allpairs_jaccard_join_build(spark, sf_dir, key_cap).localCheckpoint(),
    )


def _allpairs_jaccard_join_build(
    spark: SparkSession, sf_dir: str, key_cap: int
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (AllPairs,
    Bayardo-Ma-Srikant) — the guaranteed-complete complement to the
    probabilistic MinHash-LSH path: every pair of documents whose
    3-gram SHINGLE sets have J ≥ t is returned, no false negatives,
    yet the blocking join touches only PREFIX shingles.

    The two published filters:
    * prefix filter — order every doc's shingle set by a global
      canonical order (document frequency ascending, rarest first,
      then shingle text); two sets with J ≥ t MUST share an element
      within their first ``|x| − ⌈t·|x|⌉ + 1`` under the SAME order,
      so only the rare end of each set ever becomes a blocking key (a
      boilerplate shingle shared by half the corpus never does, unless
      a tiny doc's prefix reaches it);
    * length filter — J ≥ t ⇒ t·|a| ≤ |b| ≤ |a|/t, applied inside the
      candidate join so mismatched sizes never materialize.

    Verification is per-pair array math: each candidate pair joins the
    two docs' sorted shingle ARRAYS once and counts
    ``array_intersect`` — no token-grain three-way join, so the
    verify cost is |candidates| × set size, vectorized JVM-side.

    The oracle is the naive shared-shingle formulation — independent
    of both filters, so the gate proves the pruning loses nothing.

    A per-blocking-key saturation cap (``key_cap``) bounds the
    candidate fan-out under adversarial key distributions — see the
    inline note; on non-degenerate corpora it never fires, so the
    exactness guarantee holds wherever the cost model does.

    Output: (doc_a, doc_b, n_inter, n_a, n_b, jaccard), J ≥ t."""
    # the tokenize + shingle pass is the memoized spine shared with the
    # MinHash signature table (shingle_minhash_recall)
    sh = _shingle_table(spark, sf_dir)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("arr")
        )
        .select(
            "doc_id",
            F.transform("arr", lambda e: e["shingle"]).alias("arr"),
            F.size("arr").alias("n"),
        )
        .localCheckpoint()
    )
    plen = (
        F.col("n") - F.ceil(F.lit(_ALLPAIRS_T) * F.col("n")) + F.lit(1)
    ).cast("int")
    # positions ride along for the POSITIONAL filter below (PPJoin,
    # Xiao et al.): pp is 0-based within the canonically-sorted array
    prefix = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("arr", 1, plen)).alias("pp", "shingle"),
    )
    # saturated-key guard (drop_saturated_keys semantics, one-shot
    # form): a blocking key carried by > key_cap docs would fan out
    # > cap² candidate pairs; such keys are removed from the blocking
    # stage with accounting. Pairs whose ONLY shared prefix key is
    # saturated are lost — drop-and-log, bounded fan-out. The
    # saturated set is a bounded driver read (keys over cap only).
    sat_rows = (
        prefix.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("kcnt"))
        .filter(F.col("kcnt") > key_cap)
        .collect()
    )
    if sat_rows:
        logger.warning(
            "allpairs_jaccard_join: dropped %d saturated prefix keys "
            "(cap=%d, hottest=%d docs)",
            len(sat_rows),
            key_cap,
            max(r["kcnt"] for r in sat_rows),
        )
        sat = spark.createDataFrame(
            [(r["shingle"],) for r in sat_rows], "shingle STRING"
        )
        prefix = prefix.join(F.broadcast(sat), "shingle", "left_anti")
    a = prefix.alias("a")
    b = prefix.alias("b")
    t = F.lit(_ALLPAIRS_T)
    # positional filter (PPJoin): a shared prefix element at 0-based
    # positions (pa, pb) bounds the overlap by min(n_a−pa, n_b−pb)
    # (every shared element sits at/after the FIRST shared one, which
    # — prefixes being order-consistent — both sides reach).  J ≥ t
    # needs overlap·(1+t) ≥ t·(n_a+n_b); with t = TN/TD exactly, the
    # integer form TD·(TN+TD)-scaled below never misprunes, and the
    # extra −(TN+TD) slack absorbs the verify stage's double-rounding
    # of J at the threshold (≤ 1 ulp ≪ one overlap unit).  The FIRST
    # shared element always satisfies the bound (see proof shape in
    # PLANS.md / Xiao et al. §3.2), so no true pair is lost — the
    # naive-formulation oracle checks exactly that.
    from fractions import Fraction

    _fr = Fraction(str(_ALLPAIRS_T))
    _tn, _td = _fr.numerator, _fr.denominator
    ub = F.least(
        F.col("a.n") - F.col("a.pp"), F.col("b.n") - F.col("b.pp")
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: t·max(|a|,|b|) ≤ min(|a|,|b|)
            & (F.col("a.n") * t <= F.col("b.n"))
            & (F.col("b.n") * t <= F.col("a.n"))
            # positional filter (exact integers, slack −(TN+TD))
            & (
                ub * F.lit(int(_tn + _td))
                >= F.lit(int(_tn)) * (F.col("a.n") + F.col("b.n"))
                - F.lit(int(_tn + _td))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    va = ordered.select(
        F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"),
        F.col("n").alias("n_a"),
    )
    vb = ordered.select(
        F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"),
        F.col("n").alias("n_b"),
    )
    verified = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long"),
        )
    )
    j = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        verified.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= t)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "jaccard",
        )
    )


_ALLPAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s.sh AS shingle FROM t,
  UNNEST(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s(sh)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh ta ON ta.doc_id = c.doc_a
  JOIN sh tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
       i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {_ALLPAIRS_T!r}
"""

# ---------------------------------------------------------------------
# MinHash recall audit against complete exact truth. The LSH family's
# recall is usually ESTIMATED from the S-curve; here it is MEASURED:
# allpairs_jaccard_join is guaranteed-complete at the 3-shingle grain
# (no false negatives), so banding a MinHash built over the SAME
# shingle universe and checking which true pairs collide in >=1 band
# yields the exact per-pair recall table — the audit that tells a
# 100-TB dedup operator whether its banding parameters lose real
# duplicates, computed entirely inside the engine.
# ---------------------------------------------------------------------

_SHMH_BANDS = 4  # 4 bands x 2 rows over the 8-permutation family


def shingle_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per TRUE pair (the complete AllPairs J ≥ 0.8 truth): how many
    of the _SHMH_BANDS MinHash bands collide, and whether the banded
    index would have surfaced the pair at all (``found``). Rows with
    found = false are the banding's EXACT false negatives.

    Scale shape: signatures are a zero-shuffle projection per doc (the
    minhash_signatures plan over shingle ids); the audit joins the
    truth table (proportional to true duplicates, not corpus²) against
    the signature table on doc keys — two hash equi-joins."""
    truth = allpairs_jaccard_join(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )

    # shingle-grain MinHash signature table, memoized: the tokenize +
    # 3-gram shingle + 8-permutation fold is the recall audit's entire
    # per-call compute (~90 % of its wall time), and the result is a
    # doc-keyed 9-column table the cold pass can always rebuild — the
    # same derived-structure discipline as the LSH bucket and AllPairs
    # truth memos it joins against
    def build():
        def _affine(a, b):
            return lambda x: (F.lit(a) * x + F.lit(b)) % _P

        # derive the signatures from the SAME checkpointed (doc_id,
        # shingle) table the AllPairs truth build materializes (the
        # shared shingle spine): MinHash is a min over the shingle-id
        # SET, so 8 partial-aggregatable MIN aggregates over the
        # exploded rows equal the former per-doc array fold — without
        # re-paying the tokenize + 3-gram shingle pass this query's
        # truth side just built (guide §2.1 shared derived structure)
        sh = _shingle_table(spark, sf_dir)
        hid = _tok_hash(F.col("shingle"))
        aggs = [
            F.min(_affine(a, b)(hid)).alias(f"mh{j}")
            for j, (a, b) in enumerate(_MINHASH_COEF)
        ]
        return (
            sh.groupBy("doc_id")
            .agg(*aggs)
            # materialize ONCE: both join sides below read this frame,
            # and without the checkpoint Catalyst plans two independent
            # subtrees that each re-run the signature pass (the plan's
            # two BroadcastExchanges each fed by their own scan)
            .localCheckpoint()
        )

    sigs = memo("shmh_signatures", (spark, sf_dir), build)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(8)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(8)],
    )
    band_hits = [
        F.when(
            (F.col(f"a{2 * k}") == F.col(f"b{2 * k}"))
            & (F.col(f"a{2 * k + 1}") == F.col(f"b{2 * k + 1}")),
            F.lit(1),
        ).otherwise(F.lit(0))
        for k in range(_SHMH_BANDS)
    ]
    matched = band_hits[0]
    for h in band_hits[1:]:
        matched = matched + h
    return (
        truth.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            matched.cast("long").alias("bands_matched"),
            (matched >= F.lit(1)).alias("found"),
        )
    )


_SHMH_SELECT = ",\n    ".join(
    f"list_min(list_transform(ids, x -> ({a} * x + {b}) % {_P})) AS mh{j}"
    for j, (a, b) in enumerate(_MINHASH_COEF)
)

_SHMH_BAND_SUM = " + ".join(
    f"(CASE WHEN a.mh{2 * k} = b.mh{2 * k} "
    f"AND a.mh{2 * k + 1} = b.mh{2 * k + 1} THEN 1 ELSE 0 END)"
    for k in range(_SHMH_BANDS)
)

_SHMH_RECALL_SQL = f"""
WITH truth AS (
  SELECT doc_a, doc_b, jaccard FROM ({_ALLPAIRS_SQL}) tq
),
shids AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, 0)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])),
           s -> {_tok_hash_sql('s')}) AS ids
  FROM (SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks
        FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT doc_id,
    {_SHMH_SELECT}
  FROM shids
)
SELECT t.doc_a, t.doc_b, t.jaccard,
  CAST({_SHMH_BAND_SUM} AS BIGINT) AS bands_matched,
  ({_SHMH_BAND_SUM}) >= 1 AS found
FROM truth t
JOIN sigs a ON a.doc_id = t.doc_a
JOIN sigs b ON b.doc_id = t.doc_b
"""


# ---------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
# the MOSS local fingerprinting algorithm)
# ---------------------------------------------------------------------

_WINNOW_K = 4  # token k-gram length
_WINNOW_W = 5  # winnowing window: consecutive k-gram hashes


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing: hash every token ``k``-gram, slide a window of ``w``
    consecutive hashes, and select each window's RIGHTMOST minimal hash
    — the classic guarantee that any shared substring of length
    ≥ k + w − 1 tokens contributes at least one common fingerprint,
    with density ~2/(w+1). The positional complement to
    ``doc_fingerprints`` (whole-document) and ``minhash_*`` (set-level):
    matching (pos, hash) fingerprints localize WHERE two documents
    overlap, the plagiarism/provenance primitive.

    Relational shape: one per-doc ordered window builds the k-grams
    (lead), a second bounded frame (``ROWS BETWEEN CURRENT AND w-1
    FOLLOWING``) collects each window's (hash, pos) pairs as a w-length
    array, and the rightmost-min pick is pure array math per row — two
    keyed window passes, no self-join, linear in corpus size. Docs with
    fewer than k + w − 1 tokens emit no fingerprint (no full window),
    per the original definition.

    A fully MAP-SIDE formulation (k-gram hashes + windows as nested
    higher-order functions over the token array, shuffling only the
    selected fingerprints) was tried in r14 and MEASURED 3.5x SLOWER
    (1.42 s → 4.89 s median warm at sf0.1): Spark evaluates nested
    higher-order functions interpreted, while this exploded shape runs
    the per-row k-gram hash under whole-stage codegen — the §2
    shuffle saving lost to §1.2 per-task work.  Keep the window form.

    Output: distinct (doc_id, pos, fp_hash) selected fingerprints.
    """
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.posexplode(_tokens_col()).alias("p", "t"))
    w = Window.partitionBy("doc_id").orderBy("p")
    kg = toks
    for j in range(1, _WINNOW_K):
        kg = kg.withColumn(f"t{j}", F.lead("t", j).over(w))
    gram = F.concat_ws(" ", "t", *[f"t{j}" for j in range(1, _WINNOW_K)])
    kg = (
        kg.filter(F.col(f"t{_WINNOW_K - 1}").isNotNull())
        .select(
            "doc_id",
            F.col("p").cast("long").alias("p"),
            _tok_hash(gram).alias("h"),
        )
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, _WINNOW_W - 1)
    )
    arr = F.collect_list(F.struct(F.col("h"), F.col("p"))).over(frame)
    starts = (
        kg.select("doc_id", arr.alias("arr"))
        .filter(F.size("arr") == _WINNOW_W)
        .withColumn("fp_hash", F.array_min(F.transform(F.col("arr"), lambda e: e["h"])))
    )
    winner = F.array_max(
        F.transform(
            F.filter(F.col("arr"), lambda e: e["h"] == F.col("fp_hash")),
            lambda e: e["p"],
        )
    )
    return starts.select("doc_id", winner.alias("pos"), "fp_hash").distinct()


_WINNOW_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(l) AS t, generate_subscripts(l, 1) - 1 AS p
  FROM (SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS l FROM documents) x
),
kg0 AS (
  SELECT doc_id, p,
    t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w
      || ' ' || lead(t, 3) OVER w AS gram,
    lead(t, {_WINNOW_K - 1}) OVER w AS tlast
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
kh AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p, {_tok_hash_sql('gram')} AS h
  FROM kg0 WHERE tlast IS NOT NULL
),
win AS (
  SELECT doc_id,
         list(h) OVER frame AS hs,
         list(p) OVER frame AS ps
  FROM kh
  WINDOW frame AS (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
),
sel AS (
  SELECT doc_id, list_min(hs) AS fp_hash,
    list_max(list_filter(
      list_transform(generate_series(1, len(hs)),
        i -> CASE WHEN hs[i] = list_min(hs) THEN ps[i] ELSE NULL END),
      x -> x IS NOT NULL)) AS pos
  FROM win WHERE len(hs) = {_WINNOW_W}
)
SELECT DISTINCT doc_id, pos, fp_hash FROM sel
"""

# ---------------------------------------------------------------------
# Document fingerprint (rolling polynomial hash over the token stream)
# ---------------------------------------------------------------------


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: fold
    h ← (h·31 + token_id) mod (2³¹−1) over the token sequence, with
    char-fold token ids. ZERO-shuffle: the whole fingerprint is one
    nested array fold per document row (round 1 exploded + joined a
    rank dictionary + re-collected — three shuffles for a projection)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    fp = F.aggregate(
        F.transform(_tokens_col(), _tok_hash),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(_P),
    )
    return docs.filter(F.size(_tokens_col()) > 0).select("doc_id", fp.alias("fingerprint"))


_FINGERPRINT_SQL = f"""
SELECT doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(regexp_extract_all(text, '{_TOKEN_RE}'), t -> {_tok_hash_sql('t')})),
    (a, b) -> (a * 31 + b) % {_P}) AS fingerprint
FROM documents
WHERE len(regexp_extract_all(text, '{_TOKEN_RE}')) > 0
"""

# ---------------------------------------------------------------------
# Similarity search: brute-force cosine top-k against a query vector
# ---------------------------------------------------------------------

_TOP_K = 10
_EMB_SCALE = 1e12


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query = embedding of vec_id 0. Dot
    products via positional explode + fixed-point sums (oracle-exact);
    at scale the query side is a broadcast and the scan is columnar.
    Ranking is TakeOrderedAndProject (see :func:`_exact_topk_within`),
    never a global-sort window."""
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        None,
        q0=_query_vec0(spark, sf_dir),
    )


_ANN_SQL = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, pos FROM (
    SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
    FROM embeddings) t
),
q0 AS (SELECT pos, x AS y FROM ex WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', _EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', _EMB_SCALE)} AS n1
  FROM ex e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT n1 AS nq FROM per WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= {_TOP_K}
"""



# ---------------------------------------------------------------------
# SimHash (16-bit) near-dup fingerprint
# ---------------------------------------------------------------------

_SIMHASH_BITS = 16
_SIMHASH_A, _SIMHASH_B = 40503, 30089  # affine hash into 16-bit space


def simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct tokens: per bit, sum ±1 votes of
    each token's hash bit; the sign vector packs into the fingerprint.
    ZERO-shuffle: with char-fold token ids the 16 bit-votes are array
    folds per document row (round 1 cross-joined a bits table and ran
    two groupBy shuffles)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    hs = F.transform(
        F.transform(F.array_distinct(_tokens_col()), _tok_hash),
        lambda x: (F.lit(_SIMHASH_A) * x + F.lit(_SIMHASH_B)) % (1 << _SIMHASH_BITS),
    )
    d = docs.filter(F.size(_tokens_col()) > 0).withColumn("hs", hs)

    def bit_vote(j):
        return lambda acc, h: acc + ((F.shiftright(h, j) % 2) * 2 - 1)

    simhash = None
    for j in range(_SIMHASH_BITS):
        vote = F.aggregate(F.col("hs"), F.lit(0).cast("long"), bit_vote(j))
        term = F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return d.select("doc_id", simhash.alias("simhash"))


_SIMHASH_TERMS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {j}) % 2) * 2 - 1)) > 0 "
    f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for j in range(_SIMHASH_BITS)
)

_SIMHASH_SQL = f"""
WITH {_TIDS_CTE},
hs AS (
  SELECT doc_id,
         list_transform(ids, x -> ({_SIMHASH_A} * x + {_SIMHASH_B}) % {1 << _SIMHASH_BITS}) AS hs
  FROM tids
)
SELECT doc_id, CAST({_SIMHASH_TERMS} AS BIGINT) AS simhash
FROM hs
"""

# ---------------------------------------------------------------------
# Embedding LSH bucketing (the ANN scale path)
# ---------------------------------------------------------------------

_N_PLANES = 8
_PLANE_COEF = [(2654435761, 40503), (2246822519, 30089), (3266489917, 20021),
               (668265263, 10007), (374761393, 50821), (2654435789, 60013),
               (2166136261, 16183), (1540483477, 26699)]


# the bucket table is consumed by four queries (itself, ann_topk_lsh,
# ann_topk_multiprobe, embedding_neardup_pairs) — memoize the
# localCheckpoint so the 8-plane scoring runs once per session
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket per embedding: 8 deterministic
    integer hyperplanes (components derived arithmetically from the
    position index -> oracle-exact); bucket = sign-bit vector of the dot
    products. The scale path for similarity search: candidate pairs are
    an equi-join on bucket instead of a cross join."""
    def build():
        emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
        ex = (
            emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
            .withColumn("x", F.col("x").cast("double"))
            # posexplode's pos is INT — a 32-bit a·pos product would silently
            # overflow for the coefficients that fit in int32
            .withColumn("pos", F.col("pos").cast("long"))
        )
        # all 8 plane dot products in ONE keyed aggregation (8 agg columns)
        # instead of a union of 8 per-plane copies — same fixed-point sums,
        # 1 shuffle of the exploded rows rather than 8
        def comp(a: int, b: int) -> F.Column:
            return ((F.lit(a) * (F.col("pos") + 1) + F.lit(b)) % 97 - 48).cast("double")

        dots = ex.groupBy("vec_id").agg(
            *[
                dsum(F.col("x") * comp(a, b), 1e9).alias(f"dot{j}")
                for j, (a, b) in enumerate(_PLANE_COEF)
            ]
        )
        bits = [
            F.when(F.col(f"dot{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(len(_PLANE_COEF))
        ]
        bucket = dots.select(
            "vec_id", sum(bits[1:], bits[0]).alias("bucket")
        )
        return bucket.localCheckpoint()

    return memo("lsh_bucket_table", (spark, sf_dir), build)


def _plane_sql(j: int, a: int, b: int) -> str:
    # generate_subscripts is 1-based = Spark's posexplode pos + 1
    return (
        f"SELECT vec_id, pos, x, {j} AS plane, "
        f"CAST(({a} * pos + {b}) % 97 - 48 AS DOUBLE) AS v FROM ex"
    )


_ANN_LSH_SQL = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, pos FROM (
    SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
    FROM embeddings) t
),
allp AS (
  {' UNION ALL '.join(_plane_sql(j, a, b) for j, (a, b) in enumerate(_PLANE_COEF))}
),
dots AS (
  SELECT vec_id, plane,
    {sql_dsum('x * v', 1e9)} AS dot
  FROM allp GROUP BY vec_id, plane
)
SELECT vec_id,
  CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(plane AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
FROM dots GROUP BY vec_id
"""



# ---------------------------------------------------------------------
# LSH-filtered top-k: the composed ANN scale path (bucket -> exact rank)
# ---------------------------------------------------------------------


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: restrict the exact cosine ranking to vectors
    sharing the query's LSH bucket (the production shape: the bucket
    equi-join replaces the all-pairs scan). Query = vec_id 0; k = 10
    within its bucket.

    Recall note (measured): on THIS corpus — isotropic random
    embeddings whose 'nearest' neighbors sit at ~0.3 cosine — single-
    probe 8-plane LSH recall vs brute force is near zero, as theory
    predicts (projection signs are nearly independent at low
    similarity). On clustered real embeddings recall is tuned via
    fewer planes or multi-probe; the gate checks the composition, not
    the recall — :func:`ann_topk_multiprobe` is the recall fix."""
    buckets = ann_lsh_buckets(spark, sf_dir)  # memoized checkpoint
    q_bucket = buckets.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qb")
    )
    cand = buckets.crossJoin(F.broadcast(q_bucket)).filter(
        F.col("bucket") == F.col("qb")
    ).select("vec_id")
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        cand,
        q0=_query_vec0(spark, sf_dir),
    )


_ANN_TOPK_LSH_SQL = f"""
WITH ex0 AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, pos FROM (
    SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
    FROM embeddings) t
),
allp AS (
  {' UNION ALL '.join(_plane_sql(j, a, b).replace('FROM ex', 'FROM ex0') for j, (a, b) in enumerate(_PLANE_COEF))}
),
dots0 AS (
  SELECT vec_id, plane,
    {sql_dsum('x * v', 1e9)} AS dot
  FROM allp GROUP BY vec_id, plane
),
buckets AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(plane AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
  FROM dots0 GROUP BY vec_id
),
qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
cand AS (SELECT vec_id FROM buckets, qb WHERE bucket = qbucket),
ex AS (SELECT e.* FROM ex0 e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
q0 AS (SELECT pos, x AS y FROM ex0 WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', _EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', _EMB_SCALE)} AS n1
  FROM ex e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT n1 AS nq FROM per WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------
# Multi-probe LSH top-k: the recall fix for the composed ANN path
# ---------------------------------------------------------------------

# probe the query bucket plus every bucket within Hamming distance ≤ 2
# of it: 1 + 8 + C(8,2) = 37 probes over the 8-bit bucket space
_PROBE_MASKS = (
    [0]
    + [1 << j for j in range(_N_PLANES)]
    + [(1 << i) | (1 << j) for i in range(_N_PLANES) for j in range(i + 1, _N_PLANES)]
)


# the query vector (vec_id 0) collected once per session: every ANN
# consumer re-ranks against the same ONE bounded row, so the collect
# is a shared derived value like the codebooks (None = the table has
# no vec 0)
def _query_vec0(spark: SparkSession, sf_dir: str) -> list | None:
    def build():
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()
        )
        return [float(v) for v in rows[0][0]] if rows else None

    return memo("query_vec0", (spark, sf_dir), build)


# sentinel: distinguishes "caller did not pass q0" (collect it here)
# from "caller knows there is no query vector" (None)
_Q0_UNSET = object()


def _exact_topk_within(
    emb: DataFrame, cand: DataFrame | None, q0=_Q0_UNSET
) -> DataFrame:
    """Exact cosine top-k of query vec_id 0, restricted to ``cand`` (one
    vec_id column) when given — the re-rank stage shared by the brute
    baseline and the LSH probe paths.

    Scale shape: the top-k is ``orderBy().limit(k)`` — Spark compiles
    that to TakeOrderedAndProject (per-partition top-k, merged on the
    driver), NOT a global sort; the rank window then runs over only the
    k surviving rows."""
    # The query vector is ONE bounded row — collect it and fold the
    # fixed-point dot/norm sums map-side (zip_with/aggregate with
    # literal q0, the same FLOOR((x*y)*S) addends in the same exact
    # integer sum), instead of exploding n x dim (vec_id, pos, x) rows
    # through a broadcast join and a corpus-wide groupBy shuffle.  The
    # q0 literal is taken from the UNRESTRICTED frame; when vec 0 is
    # not in ``cand`` the per-table still has no vec-0 row, so nq stays
    # empty and the result is empty — exactly the former semantics.
    if q0 is _Q0_UNSET:
        rows = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
        q0 = [float(v) for v in rows[0][0]] if rows else None
    if cand is not None:
        emb = emb.join(cand, "vec_id", "left_semi")
    if q0 is not None:
        dot_sql = sql_array_dot("embedding", dlit_array(q0), _EMB_SCALE)
    else:  # no query vector: dot is undefined -> every cos_sim NULL
        dot_sql = "CAST(NULL AS DOUBLE)"
    n1_sql = sql_array_norm2("embedding", _EMB_SCALE)
    per = emb.select(
        "vec_id",
        F.expr(dot_sql).alias("dot"),
        F.expr(n1_sql).alias("n1"),
    )
    nq = per.filter(F.col("vec_id") == 0).select(F.col("n1").alias("nq"))
    scored = (
        per.crossJoin(F.broadcast(nq))
        .withColumn("cos_sim", F.col("dot") / F.sqrt(F.col("n1") * F.col("nq")))
        # zero-norm vectors score NULL under non-ANSI division; they
        # have no defined similarity and would break the count-of-better
        # rank (every NULL row would tie at rank 1)
        .filter(F.col("cos_sim").isNotNull())
    )
    # localCheckpoint: `topk` feeds both sides of the rank self-join —
    # without it the whole scored lineage (scan, explode, fixed-point
    # aggs) executes twice
    topk = (
        scored.orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(_TOP_K)
        .localCheckpoint()
    )
    # rank among the k survivors = 1 + #rows strictly better in the
    # total order (cos_sim DESC, vec_id ASC) — a broadcast self-join of
    # ≤ k rows, so no WindowExec appears anywhere in the top-k plan
    other = topk.select(F.col("vec_id").alias("v2"), F.col("cos_sim").alias("c2"))
    better = (F.col("c2") > F.col("cos_sim")) | (
        (F.col("c2") == F.col("cos_sim")) & (F.col("v2") < F.col("vec_id"))
    )
    return (
        topk.join(F.broadcast(other), better, "left")
        .groupBy("vec_id", "cos_sim")
        .agg((F.count("v2") + 1).cast("int").alias("rank"))
    )


def ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (the recall fix for single-probe
    ann_topk_lsh, measured near-zero on this low-similarity corpus):
    candidates = vectors in any bucket within Hamming distance ≤ 2 of
    the query's bucket, then exact cosine re-rank. The probe list stays
    O(planes²) and TINY (37 rows, broadcast); candidate volume stays
    bucket-bounded — same equi-join scale shape as single-probe, with
    recall traded by probe radius instead of by plane count."""
    buckets = ann_lsh_buckets(spark, sf_dir)  # memoized checkpoint
    qb = buckets.filter(F.col("vec_id") == 0).select(F.col("bucket").alias("qb"))
    probes = (
        qb.select(
            F.explode(
                F.array(
                    *[F.expr(f"qb ^ CAST({m} AS BIGINT)") for m in _PROBE_MASKS]
                )
            ).alias("bucket")
        )
        .distinct()
    )
    cand = buckets.join(F.broadcast(probes), "bucket", "left_semi").select("vec_id")
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        cand,
        q0=_query_vec0(spark, sf_dir),
    )


_ANN_TOPK_MULTIPROBE_SQL = f"""
WITH ex0 AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, pos FROM (
    SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
    FROM embeddings) t
),
allp AS (
  {' UNION ALL '.join(_plane_sql(j, a, b).replace('FROM ex', 'FROM ex0') for j, (a, b) in enumerate(_PLANE_COEF))}
),
dots0 AS (
  SELECT vec_id, plane,
    {sql_dsum('x * v', 1e9)} AS dot
  FROM allp GROUP BY vec_id, plane
),
buckets AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(plane AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
  FROM dots0 GROUP BY vec_id
),
qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
probes AS (
  SELECT DISTINCT xor(qbucket, CAST(m AS BIGINT)) AS bucket
  FROM qb, (SELECT unnest([{', '.join(str(m) for m in _PROBE_MASKS)}]) AS m) t
),
cand AS (SELECT DISTINCT b.vec_id FROM buckets b JOIN probes p USING (bucket)),
ex AS (SELECT e.* FROM ex0 e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
q0 AS (SELECT pos, x AS y FROM ex0 WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', _EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', _EMB_SCALE)} AS n1
  FROM ex e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT n1 AS nq FROM per WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------
# LSH candidate verification: exact token-set Jaccard over the pairs
# ---------------------------------------------------------------------
#
# The dedup decision step public pipelines run after blocking: MinHash
# banding proposes candidates (high recall, false positives allowed);
# the exact Jaccard over the two token SETS — the statistic MinHash
# estimates — makes the keep/drop call. Plan: the memoized pair table
# joins the distinct-token stream twice on (doc, token); everything is
# keyed equi-joins + one count aggregate, no windows.

_VERIFY_JACCARD_MIN = 0.5


# (doc_a, doc_b, n_inter, n_a, n_b) per candidate pair — shared by the
# Jaccard verifier and the containment scorer (one token explode, one
# intersection join, one checkpoint for both)
def _pair_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token intersection statistics over the memoized LSH
    candidate pairs: (doc_a, doc_b, n_inter, n_a, n_b). The verifier
    (exact Jaccard) and the containment scorer (Broder c(A→B)) are
    both pure arithmetic over this frame — the intersection machinery
    exists ONCE in each engine."""
    def build():
        pairs = minhash_lsh_pairs(spark, sf_dir)
        tok = (
            fan_out_small_scan(load_table(spark, sf_dir, "documents"))
            .select("doc_id", F.explode(F.array_distinct(_tokens_col())).alias("t"))
            .localCheckpoint()
        )
        sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        inter = (
            pairs.join(tok.alias("ta"), pairs.doc_a == F.col("ta.doc_id"))
            .join(
                tok.alias("tb"),
                (pairs.doc_b == F.col("tb.doc_id")) & (F.col("ta.t") == F.col("tb.t")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        out = (
            inter.join(sizes.withColumnRenamed("n_sh", "n_a"), inter.doc_a == F.col("doc_id"))
            .drop("doc_id")
            .join(sizes.withColumnRenamed("n_sh", "n_b"), F.col("doc_b") == F.col("doc_id"))
            .drop("doc_id")
        )
        return out.localCheckpoint()

    return memo("pair_token_stats", (spark, sf_dir), build)


def lsh_pairs_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard verification of the MinHash-LSH candidates."""
    return (
        _pair_token_stats(spark, sf_dir)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(float(_VERIFY_JACCARD_MIN)))
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )


# the shared intersection CTE chain (the SQL twin of
# _pair_token_stats — both oracles derive from pstats)
_PAIR_STATS_CTES = f"""{_PAIRS_CTES},
tok AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{_TOKEN_RE}')) AS t
        FROM documents) x
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN tok a ON a.doc_id = p.doc_a
  JOIN tok b ON b.doc_id = p.doc_b AND b.t = a.t
  GROUP BY p.doc_a, p.doc_b
),
pstats AS (
  SELECT i.doc_a, i.doc_b, i.n_inter, sa.n AS n_a, sb.n AS n_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)"""

_LSH_VERIFIED_SQL = f"""
WITH {_PAIR_STATS_CTES}
SELECT doc_a, doc_b, n_inter, n_a, n_b,
  CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard
FROM pstats
WHERE CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)
      >= CAST({_VERIFY_JACCARD_MIN!r} AS DOUBLE)
"""


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-level verification of the MinHash-LSH candidates:
    Levenshtein distance over each candidate pair's raw texts, plus the
    normalized similarity 1 − d/max(len) — the fuzzy-dedup confirm
    stage that catches what token-set Jaccard cannot distinguish
    (reordered tokens score identical Jaccard but large edit distance;
    small in-place edits score high on both).

    Scale shape: the O(len²) dynamic program runs ONLY on the LSH
    candidate pairs (memoized, bounded by the band cap), one row per
    pair — never all-pairs; both engines implement the identical
    classic integer DP, so the distance (and the exact division
    similarity) is oracle-bit-exact."""
    # the memoized pair table comes back AQE-coalesced to ~1 partition,
    # so the O(len²) DP — the query's entire compute — ran serially on
    # one core; fan it out so each task DPs a slice of the pairs
    # (no-op at cluster scale where the pair table already has splits)
    pairs = fan_out_small_scan(minhash_lsh_pairs(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    d = F.levenshtein("_ta", "_tb").cast("long")
    denom = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1)).cast("long")
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            d.alias("edit_distance"),
            F.length("_ta").cast("long").alias("len_a"),
            F.length("_tb").cast("long").alias("len_b"),
            (F.lit(1.0) - d.cast("double") / denom.cast("double")).alias("edit_sim"),
        )
    )


_EDIT_PAIRS_SQL = f"""
WITH {_PAIRS_CTES}
SELECT p.doc_a, p.doc_b,
  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
  CAST(length(da.text) AS BIGINT) AS len_a,
  CAST(length(db.text) AS BIGINT) AS len_b,
  CAST(1.0 AS DOUBLE)
    - CAST(levenshtein(da.text, db.text) AS DOUBLE)
      / CAST(GREATEST(length(da.text), length(db.text), 1) AS DOUBLE)
    AS edit_sim
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
"""


_CONTAIN_MIN = 0.8


def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over the LSH candidate pairs:
    c(A→B) = |A∩B| / |A|. Catches SUB-document duplication that
    Jaccard misses — a short doc fully embedded in a long one has
    c ≈ 1 while J = |A|/|B| can be tiny (Broder's containment, the
    quote/boilerplate-inclusion detector). Emits pairs where either
    direction's containment ≥ _CONTAIN_MIN, with both directions
    reported. Rides the SAME pair-intersection frame as
    lsh_pairs_verified (one blocked join serves both)."""
    c_a = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
    c_b = F.col("n_inter").cast("double") / F.col("n_b").cast("double")
    return (
        _pair_token_stats(spark, sf_dir)
        .withColumn("contain_a", c_a)
        .withColumn("contain_b", c_b)
        .filter(
            (F.col("contain_a") >= F.lit(float(_CONTAIN_MIN)))
            | (F.col("contain_b") >= F.lit(float(_CONTAIN_MIN)))
        )
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "contain_a", "contain_b")
    )


_CONTAINMENT_SQL = f"""
WITH {_PAIR_STATS_CTES}
SELECT doc_a, doc_b, n_inter, n_a, n_b,
  CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS contain_a,
  CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS contain_b
FROM pstats
WHERE CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) >= CAST({_CONTAIN_MIN!r} AS DOUBLE)
   OR CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) >= CAST({_CONTAIN_MIN!r} AS DOUBLE)
"""


# ---------------------------------------------------------------------
# SimHash near-dup pairs (Manku/Jain/Sarma 2007, WWW — the Google web
# dedup recipe): a WIDE fingerprint banded by the pigeonhole principle.
# Hamming(x, y) ≤ 3 over a 48-bit simhash split into 4 bands of 12 bits
# guarantees at least one band matches exactly, so the quadratic
# Hamming search becomes an equi-join on (band, band_value) followed by
# an exact bit_count verification of the candidates. Same cap
# discipline as the MinHash path: degenerate bands (near-identical
# token sets) above _LSH_BUCKET_CAP members are dropped pre-join.
# ---------------------------------------------------------------------

_SIMHAM_BITS = 48
_SIMHAM_BAND_BITS = 12  # 4 bands × 12 bits; pigeonhole covers H ≤ 3
_SIMHAM_MAX = 3
# two public LCG multipliers fold the 31-bit token id into the two
# 24-bit halves of the wide hash
_SIMHAM_A1, _SIMHAM_B1 = 48271, 11
_SIMHAM_A2, _SIMHAM_B2 = 69621, 7


def _simhash48(d: DataFrame) -> DataFrame:
    """(doc_id, sh): 48-bit simhash over distinct-token ids, one array
    fold (zip_with accumulator) instead of 48 per-bit folds."""
    half = 1 << (_SIMHAM_BITS // 2)
    hs = F.transform(
        F.transform(F.array_distinct(_tokens_col()), _tok_hash),
        lambda x: (F.lit(_SIMHAM_A1) * x + F.lit(_SIMHAM_B1)) % half
        + ((F.lit(_SIMHAM_A2) * x + F.lit(_SIMHAM_B2)) % half) * half,
    )
    votes = (
        f"aggregate(hs, array_repeat(0L, {_SIMHAM_BITS}), (acc, h) -> "
        f"zip_with(acc, transform(sequence(0, {_SIMHAM_BITS - 1}), "
        "j -> (shiftright(h, j) % 2) * 2 - 1), (a, b) -> a + CAST(b AS BIGINT)))"
    )
    pack = (
        f"aggregate(zip_with({votes}, sequence(0, {_SIMHAM_BITS - 1}), "
        "(v, j) -> IF(v > 0, shiftleft(1L, j), 0L)), 0L, (a, b) -> a + b)"
    )
    return (
        d.filter(F.size(_tokens_col()) > 0)
        .withColumn("hs", hs)
        .selectExpr("doc_id", f"{pack} AS sh")
    )


def _simhash_pairs_frame(docs: DataFrame, *, cap: int = _LSH_BUCKET_CAP) -> DataFrame:
    """The banding join over any (doc_id, text) frame — the production
    body of simhash_neardup_pairs, parameterized on the bucket cap so
    the banding≡brute-force equivalence test can run the REAL code path
    with the cap disabled."""
    sh = _simhash48(fan_out_small_scan(docs)).localCheckpoint()
    mask = (1 << _SIMHAM_BAND_BITS) - 1
    n_bands = _SIMHAM_BITS // _SIMHAM_BAND_BITS
    stack_args = ", ".join(
        f"{b}, shiftright(sh, {b * _SIMHAM_BAND_BITS}) & {mask}"
        for b in range(n_bands)
    )
    bands = sh.selectExpr(
        "doc_id", "sh", f"stack({n_bands}, {stack_args}) AS (band, v)"
    )
    w_bucket = Window.partitionBy("band", "v")
    capped = (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("_bsz") <= cap)
        .drop("_bsz")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= _SIMHAM_MAX)


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ 3): SimHash near-dup pairs via
    pigeonhole banding + exact Hamming verification."""
    return _simhash_pairs_frame(load_table(spark, sf_dir, "documents"))


_SIMHAM_HALF = 1 << (_SIMHAM_BITS // 2)
_SIMHAM_VOTE_TERMS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {j}) % 2) * 2 - 1)) > 0 "
    f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for j in range(_SIMHAM_BITS)
)
_SIMHAM_MASK = (1 << _SIMHAM_BAND_BITS) - 1

_SIMHAM_PAIRS_SQL = f"""
WITH {_TIDS_CTE},
hs AS (
  SELECT doc_id,
         list_transform(ids, x ->
           ({_SIMHAM_A1} * x + {_SIMHAM_B1}) % {_SIMHAM_HALF}
           + (({_SIMHAM_A2} * x + {_SIMHAM_B2}) % {_SIMHAM_HALF}) * {_SIMHAM_HALF}) AS hs
  FROM tids WHERE len(ids) > 0
),
sh AS (SELECT doc_id, CAST({_SIMHAM_VOTE_TERMS} AS BIGINT) AS sh FROM hs),
bands AS (
  SELECT doc_id, sh, b.b AS band, (sh >> (b.b * {_SIMHAM_BAND_BITS})) & {_SIMHAM_MASK} AS v
  FROM sh, LATERAL (SELECT unnest(generate_series(0, {_SIMHAM_BITS // _SIMHAM_BAND_BITS - 1})) AS b) b
),
capped AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, v) AS bsz FROM bands) t
  WHERE bsz <= {_LSH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {_SIMHAM_MAX}
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "token_stats": token_stats,
    "lang_id": lang_id,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "doc_fingerprints": doc_fingerprints,
    "winnowing_fingerprints": winnowing_fingerprints,
    "allpairs_jaccard_join": allpairs_jaccard_join,
    "shingle_minhash_recall": shingle_minhash_recall,
    "edit_distance_pairs": edit_distance_pairs,
    "ann_cosine_topk": ann_cosine_topk,
    "simhash16": simhash16,
    "ann_lsh_buckets": ann_lsh_buckets,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_topk_multiprobe": ann_topk_multiprobe,
    "lsh_pairs_verified": lsh_pairs_verified,
    "minhash_containment": minhash_containment,
    "simhash_neardup_pairs": simhash_neardup_pairs,
}

ORACLES = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "token_stats": _TOKEN_STATS_SQL,
    "lang_id": _LANG_ID_SQL,
    "minhash_signatures": _MINHASH_SQL,
    "minhash_lsh_pairs": _LSH_PAIRS_SQL,
    "ngram_jaccard_pairs": _JACCARD_SQL,
    "doc_fingerprints": _FINGERPRINT_SQL,
    "winnowing_fingerprints": _WINNOW_SQL,
    "allpairs_jaccard_join": _ALLPAIRS_SQL,
    "shingle_minhash_recall": _SHMH_RECALL_SQL,
    "edit_distance_pairs": _EDIT_PAIRS_SQL,
    "ann_cosine_topk": _ANN_SQL,
    "simhash16": _SIMHASH_SQL,
    "ann_lsh_buckets": _ANN_LSH_SQL,
    "ann_topk_lsh": _ANN_TOPK_LSH_SQL,
    "ann_topk_multiprobe": _ANN_TOPK_MULTIPROBE_SQL,
    "lsh_pairs_verified": _LSH_VERIFIED_SQL,
    "minhash_containment": _CONTAINMENT_SQL,
    "simhash_neardup_pairs": _SIMHAM_PAIRS_SQL,
}
