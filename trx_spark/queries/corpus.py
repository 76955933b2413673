"""Corpus-level dedup composition: near-dup CLUSTERS (connected
components over the MinHash-LSH candidate pairs), span-level exact
dedup (C4-style: drop repeated word-spans corpus-wide, keep the first
occurrence, reassemble the document), and intra-document repetition
quality signals (Gopher-style duplicate-word / top-n-gram fractions).

These close the loop the pair queries leave open: a real training-data
pipeline doesn't stop at "these two docs are similar" — it groups the
similarity graph into clusters and keeps one canonical doc per cluster.

Scale design:
- Clustering is iterative min-label propagation + pointer jumping over
  the (symmetric) pair edge list — every step is an equi-join/groupBy
  keyed on doc id, no global structure; the driver loop only moves a
  convergence scalar (same contract as the U5 center search). Rounds
  are O(log diameter) thanks to the pointer-jump shortcut; near-dup
  components are near-cliques, so 2-4 rounds in practice.
- Span dedup shuffles on the span string (hash partition); the
  first-occurrence keeper is min() of an encoded (doc, pos) key, which
  is partial-aggregatable (map-side combine) — no window, no skew
  beyond genuinely hot spans.
- Repetition stats are a pure projection (higher-order array functions
  inside one codegen span): zero shuffles, scales with scan bandwidth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.operators import graph
from trx_spark.queries import textdata
from trx_spark.tables import fan_out_small_scan, load_table

# ---------------------------------------------------------------------
# Near-dup clusters: connected components over LSH candidate pairs
# ---------------------------------------------------------------------


# cluster labels memoized: the iterative component search (multi-job
# label propagation) is consumed by FIVE gates per session —
# dedup_clusters itself, corpus_keep_list, dedup_report,
# curation_funnel_report and training_set_manifest — so the
# propagation rounds run once and every consumer rides the
# checkpointed verdict table (the quality-signals discipline)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group the MinHash-LSH near-dup pairs into connected components
    and assign every document a cluster id (= the smallest doc_id in
    its component; singletons cluster with themselves). ``is_canonical``
    marks the one doc per cluster a dedup pipeline would keep.

    The component search is :func:`trx_spark.operators.graph.
    connected_components` (min-label propagation + pointer jumping);
    docs that appear in no pair are joined back as singletons here.
    """
    def build():
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        pairs = textdata.minhash_lsh_pairs(spark, sf_dir)  # memoized checkpoint
        labels = graph.connected_components(pairs, src="doc_a", dst="doc_b")
        return (
            docs.join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .select("doc_id", F.coalesce("lbl", F.col("doc_id")).alias("cluster_id"))
            .withColumn("is_canonical", F.col("cluster_id") == F.col("doc_id"))
            .localCheckpoint()
        )

    return memo("dedup_cluster_labels", (spark, sf_dir), build)


# Oracle: transitive closure via a recursive CTE (UNION dedups per
# round, so it terminates), then min reachable id per vertex. Reuses
# the exact pair CTE chain from the minhash_lsh_pairs oracle.
_CLUSTERS_SQL = f"""
WITH RECURSIVE {textdata._PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS lbl FROM edges
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


# ---------------------------------------------------------------------
# Span-level exact dedup (C4-style): drop repeated word-spans
# ---------------------------------------------------------------------

_SPAN_W = 8  # words per non-overlapping span
# keeper key = doc_id * enc + pos; enc = 2^32 so the packing cannot
# bleed across documents before pos reaches 4.3e9 spans (1e6 overflowed
# at 8M-word web documents) while doc_id keeps 2^31 headroom in int64
_POS_ENC = 2**32


def _n_spans_col() -> F.Column:
    """ceil(|words| / _SPAN_W) — the per-doc span count, shared by both
    span queries (and mirrored twice in each SQL oracle)."""
    return F.ceil(F.size(F.split(F.col("text"), " ")) / F.lit(_SPAN_W)).cast("long")


def _doc_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, span): each document split into its consecutive
    non-overlapping _SPAN_W-word spans — the shared front end of
    span_dedup and boilerplate_spans."""
    words = F.split(F.col("text"), " ")
    chunks = F.when(F.size(words) > 0, F.transform(
        F.sequence(F.lit(0).cast("long"), _n_spans_col() - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(
                F.slice(words, i * _SPAN_W + 1, _SPAN_W), " "
            ).alias("span"),
        ),
    )).otherwise(F.array().cast("array<struct<pos:long,span:string>>"))
    return docs.select("doc_id", F.inline(chunks))


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide span dedup: split each document into consecutive
    8-word spans, keep only the FIRST occurrence of each distinct span
    (ordered by (doc_id, position)), and reassemble the surviving text.
    The C4 recipe at span granularity — removes boilerplate repeated
    across documents, not just whole-doc duplicates.
    """
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    spans = _doc_spans(docs)
    n_spans = _n_spans_col()
    kk = F.col("doc_id") * _POS_ENC + F.col("pos")
    # min() of the encoded key is partial-aggregatable — unlike a
    # row_number window this combines map-side before the shuffle
    keep = spans.groupBy("span").agg(F.min(kk).alias("kk"))
    kept = spans.join(keep, "span").filter(kk == F.col("kk"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    return (
        docs.select("doc_id", n_spans.alias("n_spans"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            (F.col("n_spans") - F.coalesce("n_kept", F.lit(0).cast("long"))).alias(
                "n_dropped"
            ),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


_SPAN_DEDUP_SQL = f"""
WITH spans AS (
  SELECT doc_id, gs.i AS pos,
         array_to_string(list_slice(d.w, gs.i*{_SPAN_W}+1, gs.i*{_SPAN_W}+{_SPAN_W}), ' ') AS span
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
       LATERAL (SELECT unnest(generate_series(0,
                  CAST(ceil(len(d.w)/{_SPAN_W}.0) AS BIGINT) - 1)) AS i) gs
  WHERE len(d.w) > 0
),
keep AS (SELECT span, MIN(doc_id*{_POS_ENC} + pos) AS kk FROM spans GROUP BY span),
kept AS (
  SELECT s.doc_id, s.pos, s.span
  FROM spans s JOIN keep k ON s.span = k.span AND s.doc_id*{_POS_ENC} + s.pos = k.kk
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(span, ' ' ORDER BY pos) AS text_dedup
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(ceil(len(string_split(d.text, ' '))/{_SPAN_W}.0) AS BIGINT) AS n_spans,
       COALESCE(r.n_kept, 0) AS n_kept,
       CAST(ceil(len(string_split(d.text, ' '))/{_SPAN_W}.0) AS BIGINT)
         - COALESCE(r.n_kept, 0) AS n_dropped,
       COALESCE(r.text_dedup, '') AS text_dedup
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


# ---------------------------------------------------------------------
# Frequency-based boilerplate removal (the CCNet/RefinedWeb recipe at
# span granularity): a span that appears in at least _BOILER_MIN_DOCS
# DISTINCT documents is boilerplate and is dropped EVERYWHERE —
# including its first occurrence (unlike span_dedup's keep-first
# semantics, which preserves one copy). Scale shape: one span-grain
# count-distinct agg (map-side partial), one anti-join keyed by span;
# nothing quadratic, no windows.
# ---------------------------------------------------------------------

_BOILER_MIN_DOCS = 2


def boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate stats + cleaned text: (doc_id, n_spans,
    n_kept, n_boiler, text_clean) where boilerplate = spans occurring
    in ≥ _BOILER_MIN_DOCS distinct docs."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    spans = _doc_spans(docs)
    common = (
        spans.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= _BOILER_MIN_DOCS)
        .select("span")
    )
    # `common` is proportional to the shared-boilerplate volume — no
    # broadcast hint; AQE broadcasts it at gate scale and shuffles a
    # web-corpus-sized one
    kept = spans.join(common, "span", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_clean"),
    )
    n_spans = _n_spans_col()
    return (
        docs.select("doc_id", n_spans.alias("n_spans"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            (F.col("n_spans") - F.coalesce("n_kept", F.lit(0).cast("long"))).alias(
                "n_boiler"
            ),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


_BOILER_SQL = f"""
WITH spans AS (
  SELECT doc_id, gs.i AS pos,
         array_to_string(list_slice(d.w, gs.i*{_SPAN_W}+1, gs.i*{_SPAN_W}+{_SPAN_W}), ' ') AS span
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
       LATERAL (SELECT unnest(generate_series(0,
                  CAST(ceil(len(d.w)/{_SPAN_W}.0) AS BIGINT) - 1)) AS i) gs
  WHERE len(d.w) > 0
),
common AS (
  SELECT span FROM spans GROUP BY span
  HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
),
kept AS (
  SELECT s.doc_id, s.pos, s.span FROM spans s
  WHERE s.span NOT IN (SELECT span FROM common)
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(span, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(ceil(len(string_split(d.text, ' '))/{_SPAN_W}.0) AS BIGINT) AS n_spans,
       COALESCE(r.n_kept, 0) AS n_kept,
       CAST(ceil(len(string_split(d.text, ' '))/{_SPAN_W}.0) AS BIGINT)
         - COALESCE(r.n_kept, 0) AS n_boiler,
       COALESCE(r.text_clean, '') AS text_clean
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


# ---------------------------------------------------------------------
# Intra-document repetition signals (Gopher-style quality heuristics)
# ---------------------------------------------------------------------


def _max_run_count(arr):
    """Max multiplicity of any element: sort the array in-row, then a
    linear fold counts the longest run of equal neighbours. O(L log L)
    per document and still a pure projection (zero shuffles) — replaces
    the O(distinct · L) transform+filter form that was measured at 20 s
    over sf0.1 (now sub-second). Empty array → 0.
    """
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    return F.aggregate(F.array_sort(arr), zero, step, lambda acc: acc.best)


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition quality signals: duplicate-word fraction
    and the share of the most frequent word bigram. Everything is
    higher-order array math over the document's own words — a pure
    projection of the scan (zero shuffles; at 100 TB this runs at scan
    bandwidth). The top-bigram multiplicity is the sorted-run fold of
    :func:`_max_run_count`, linearithmic in document length.
    """
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    n = F.size(w).cast("long")
    nd = F.size(F.array_distinct(w)).cast("long")
    bgs = F.zip_with(
        F.slice(w, 1, F.greatest(n - 1, F.lit(0)).cast("int")),
        F.slice(w, 2, F.greatest(n - 1, F.lit(0)).cast("int")),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_bg = F.size(bgs).cast("long")
    top_bg = _max_run_count(bgs)
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        nd.alias("n_distinct_words"),
        F.when(n > 0, (n - nd).cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
        n_bg.alias("n_bigrams"),
        F.coalesce(top_bg, F.lit(0).cast("long")).alias("top_bigram_count"),
        F.when(n_bg > 0, F.coalesce(top_bg, F.lit(0).cast("long")).cast("double") / n_bg.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id,
         string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
),
bg AS (
  SELECT doc_id, n,
         CAST(len(list_distinct(w)) AS BIGINT) AS nd,
         list_transform(
           generate_series(1, n - 1),
           i -> w[i] || ' ' || w[i+1]
         ) AS bgs
  FROM base
),
cnt AS (
  SELECT doc_id, g.gram, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg, UNNEST(bgs) AS g(gram)
  GROUP BY doc_id, g.gram
),
top AS (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY doc_id),
agg AS (
  SELECT bg.doc_id, CAST(n AS BIGINT) AS n_words, nd AS n_distinct_words,
         CAST(len(bgs) AS BIGINT) AS n_bigrams,
         COALESCE(top.top, 0) AS top_bigram_count
  FROM bg LEFT JOIN top ON bg.doc_id = top.doc_id
)
SELECT doc_id, n_words, n_distinct_words,
       CASE WHEN n_words > 0
            THEN CAST(n_words - n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS dup_word_frac,
       n_bigrams, top_bigram_count,
       CASE WHEN n_bigrams > 0
            THEN CAST(top_bigram_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
            ELSE 0.0 END AS top_bigram_frac
FROM agg
"""


# ---------------------------------------------------------------------
# Composed document quality filter (C4/Gopher-style keep decision)
# ---------------------------------------------------------------------

_MIN_TOKENS = 25
_MAX_DUP_WORD = 0.6
_MAX_TOP_BIGRAM = 0.10
_WL_LO, _WL_HI = 3.0, 10.0
_TOKEN_RE = "[a-z]+"
# THE marker table and argmax live in textdata (lang_id); importing
# them here means an edit to either can never desynchronize
# quality_filter's predicted_lang (reject bit 16) from lang_id
from trx_spark.queries.textdata import (  # noqa: E402
    _LANG_MARKERS,
    lang_argmax,
    lang_marker_scores,
)


def quality_signals(docs: DataFrame) -> DataFrame:
    """The composed keep/reject decision a C4/Gopher-style cleaning
    pipeline applies per document, built from the engine's signal
    family: token count, duplicate-word fraction, top-bigram fraction,
    mean word length, and the marker-based language guess. Emits a
    reject-reason bitmask (1 short, 2 low-diversity, 4 repetitive,
    8 word-length, 16 non-English) and ``keep = (reasons == 0)``.
    Entirely higher-order array math over each document's own tokens —
    zero shuffles, scales with scan bandwidth. Operates on any
    DataFrame with (doc_id, text) columns.
    """
    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    tc = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("long")
    bgs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0)).cast("int")),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0)).cast("int")),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_bg = F.size(bgs).cast("long")
    tb = _max_run_count(bgs)
    s = lang_marker_scores(toks)
    pred = lang_argmax(s)
    dup_frac = (n - nd).cast("double") / n.cast("double")
    wl = tc.cast("double") / n.cast("double")
    bg_frac = F.when(n_bg > 0, tb.cast("double") / n_bg.cast("double")).otherwise(
        F.lit(0.0)
    )
    reasons = (
        F.when(n < _MIN_TOKENS, 1).otherwise(0)
        + F.when(dup_frac > _MAX_DUP_WORD, 2).otherwise(0)
        + F.when(bg_frac > _MAX_TOP_BIGRAM, 4).otherwise(0)
        + F.when((wl < _WL_LO) | (wl > _WL_HI), 8).otherwise(0)
        + F.when(pred != "en", 16).otherwise(0)
    ).cast("long")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        dup_frac.alias("dup_word_frac"),
        bg_frac.alias("top_bigram_frac"),
        wl.alias("mean_word_len"),
        pred.alias("predicted_lang"),
        reasons.alias("reject_reasons"),
        (reasons == 0).alias("keep"),
    )


# quality_filter and curation.source_quality_rollup both consume the
# signals projection (regex-heavy but zero-shuffle) — memoize its
# localCheckpoint
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: :func:`quality_signals` over the documents table."""
    return memo(
        "quality_signals",
        (spark, sf_dir),
        lambda: quality_signals(
            fan_out_small_scan(load_table(spark, sf_dir, "documents"))
        ).localCheckpoint(),
    )


def _qf_marker_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"CAST(len(list_filter(toks, x -> x IN ({words}))) AS BIGINT)"


_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOKEN_RE}') AS toks FROM documents
),
m AS (
  SELECT doc_id, toks,
    CAST(len(toks) AS BIGINT) AS n,
    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS tc,
    list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1]) AS bgs,
    {_qf_marker_sql('en')} AS s_en,
    {_qf_marker_sql('de')} AS s_de,
    {_qf_marker_sql('es')} AS s_es,
    {_qf_marker_sql('fr')} AS s_fr
  FROM t
),
cnt AS (
  SELECT doc_id, g.gram, CAST(COUNT(*) AS BIGINT) AS c
  FROM m, UNNEST(bgs) AS g(gram)
  GROUP BY doc_id, g.gram
),
top AS (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY doc_id),
sig AS (
  SELECT m.doc_id, n,
    CAST(n - nd AS DOUBLE) / CAST(n AS DOUBLE) AS dup_word_frac,
    CASE WHEN len(bgs) > 0
         THEN CAST(COALESCE(top.top, 0) AS DOUBLE) / CAST(len(bgs) AS DOUBLE)
         ELSE 0.0 END AS top_bigram_frac,
    CAST(tc AS DOUBLE) / CAST(n AS DOUBLE) AS mean_word_len,
    CASE
      WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      WHEN s_es >= s_fr THEN 'es'
      ELSE 'fr'
    END AS predicted_lang
  FROM m LEFT JOIN top ON m.doc_id = top.doc_id
),
r AS (
  SELECT *,
    CAST(
      (CASE WHEN n < {_MIN_TOKENS} THEN 1 ELSE 0 END)
      + (CASE WHEN dup_word_frac > CAST({_MAX_DUP_WORD!r} AS DOUBLE) THEN 2 ELSE 0 END)
      + (CASE WHEN top_bigram_frac > CAST({_MAX_TOP_BIGRAM!r} AS DOUBLE) THEN 4 ELSE 0 END)
      + (CASE WHEN mean_word_len < CAST({_WL_LO!r} AS DOUBLE)
               OR mean_word_len > CAST({_WL_HI!r} AS DOUBLE) THEN 8 ELSE 0 END)
      + (CASE WHEN predicted_lang <> 'en' THEN 16 ELSE 0 END)
    AS BIGINT) AS reject_reasons
  FROM sig
)
SELECT doc_id, n AS n_tokens, dup_word_frac, top_bigram_frac, mean_word_len,
       predicted_lang, reject_reasons, (reject_reasons = 0) AS keep
FROM r
"""


# ---------------------------------------------------------------------
# Corpus keep-list: the composed final verdict of the whole pipeline
# ---------------------------------------------------------------------
#
# The artifact a curation run actually ships: one row per document with
# the three independent verdicts — exact-dup keeper (smallest doc_id
# per content hash), near-dup cluster canonical (connected components
# over the LSH pairs), quality keep (C4/Gopher bitmask) — and the
# final ``keep`` conjunction. Every input stage is a memoized shared
# stage, so this costs three keyed joins over their checkpoints.


# the composed verdict table is itself a shared stage (dedup_report,
# curation_funnel_report and training_set_manifest all join it), so the
# exact-dedup groupBy + three joins run once per session
def corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc final keep verdict: exact-keeper ∧ cluster-canonical ∧
    quality-keep."""
    def build():
        docs = load_table(spark, sf_dir, "documents")
        exact_keep = (
            docs.withColumn("_h", F.md5(F.col("text").cast("binary")))
            .groupBy("_h")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", F.lit(True).alias("exact_keeper"))
        )
        clusters = dedup_clusters(spark, sf_dir).select("doc_id", "is_canonical")
        quality = quality_filter(spark, sf_dir).select("doc_id", "keep")

        return (
            docs.select("doc_id")
            .join(exact_keep, "doc_id", "left")
            .join(clusters, "doc_id")
            .join(quality, "doc_id")
            .select(
                "doc_id",
                F.coalesce("exact_keeper", F.lit(False)).alias("exact_keeper"),
                "is_canonical",
                F.col("keep").alias("quality_keep"),
                (
                    F.coalesce("exact_keeper", F.lit(False))
                    & F.col("is_canonical")
                    & F.col("keep")
                ).alias("keep"),
            )
            .localCheckpoint()
        )

    return memo("corpus_keep_list", (spark, sf_dir), build)


def _keep_list_sql() -> str:
    quality = _QUALITY_SQL.strip().rstrip(";")
    # _CLUSTERS_SQL is a full recursive query; reuse its WITH chain by
    # wrapping it as a subselect
    return f"""
WITH RECURSIVE {textdata._PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS lbl FROM edges
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
q AS ({quality})
SELECT d.doc_id,
  (d.doc_id IN (SELECT doc_id FROM exact_keep)) AS exact_keeper,
  (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS is_canonical,
  q.keep AS quality_keep,
  ((d.doc_id IN (SELECT doc_id FROM exact_keep))
   AND (COALESCE(c.cluster_id, d.doc_id) = d.doc_id)
   AND q.keep) AS keep
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.id
JOIN q ON q.doc_id = d.doc_id
"""


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: how many documents each pipeline
    stage rejects (exact duplicate / near-dup non-canonical / quality)
    and how many survive — the report an operator reads before
    committing a corpus build. Pure rollup of the composed keep-list
    verdict: one keyed groupBy over already-memoized stages.

    Output: (source, n_docs, n_exact_dupes, n_near_dupes,
    n_quality_rejects, n_kept)."""
    kl = corpus_keep_list(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    def n_where(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return (
        kl.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_where(~F.col("exact_keeper"), "n_exact_dupes"),
            n_where(~F.col("is_canonical"), "n_near_dupes"),
            n_where(~F.col("quality_keep"), "n_quality_rejects"),
            n_where(F.col("keep"), "n_kept"),
        )
    )


def _dedup_report_sql() -> str:
    return f"""
WITH kl AS ({_keep_list_sql().strip()})
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN NOT kl.exact_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dupes,
       CAST(SUM(CASE WHEN NOT kl.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dupes,
       CAST(SUM(CASE WHEN NOT kl.quality_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_rejects,
       CAST(SUM(CASE WHEN kl.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM kl JOIN documents d USING (doc_id)
GROUP BY d.source
"""




# ---------------------------------------------------------------------
# Compression-ratio quality signal (zlib low-entropy filter)
# ---------------------------------------------------------------------

_CR_LOW = 0.35  # below: near-constant text (template/boilerplate spam)
_CR_LEVEL = 6  # fixed zlib level -> deterministic byte counts


def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio — the classic low-entropy
    quality filter (highly repetitive machine-generated text
    compresses far below natural language). Real zlib, so there is no
    SQL oracle; correctness is pinned by a Python golden test
    (tests/test_compression_ratio.py) that byte-compares against
    direct zlib calls.

    Scale shape: one Arrow-batched mapInPandas pass over the scan
    (fan-out per invariant 10), zero shuffles, no state — the
    distributed ceiling is scan bandwidth. The kernel is
    closure-self-contained (workers never import repo modules).

    Output: (doc_id, n_bytes, n_compressed, compression_ratio,
    flagged_low_entropy)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))

    low, level = _CR_LOW, _CR_LEVEL

    def kernel(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            nb = [len(b) for b in raw]
            nc = [len(zlib.compress(b, level)) for b in raw]
            ratio = [
                (c / b) if b else float("nan") for c, b in zip(nc, nb)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "compression_ratio": ratio,
                    "flagged_low_entropy": [r < low for r in ratio],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        kernel,
        "doc_id long, n_bytes long, n_compressed long, "
        "compression_ratio double, flagged_low_entropy boolean",
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every (source_a, source_b)
    pair (unordered, a <= b), how many near-dup pairs connect them —
    the provenance dashboard that tells a curation team WHICH feeds
    copy from which (mirror detection, license leakage, scraper
    loops). Rides the memoized LSH pair table; two broadcast-eligible
    joins against the doc->source projection and one tiny groupBy."""
    pairs = textdata.minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("source", "sa"), pairs.doc_a == src.doc_id)
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "sb").withColumnRenamed("doc_id", "db"),
            F.col("doc_b") == F.col("db"),
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_SRC_OVERLAP_SQL = f"""
WITH {textdata._PAIRS_CTES}
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN documents sa ON sa.doc_id = p.doc_a
JOIN documents sb ON sb.doc_id = p.doc_b
GROUP BY least(sa.source, sb.source), greatest(sa.source, sb.source)
"""



QUERIES = {
    "dedup_clusters": dedup_clusters,
    "span_dedup": span_dedup,
    "boilerplate_spans": boilerplate_spans,
    "repetition_stats": repetition_stats,
    "quality_filter": quality_filter,
    "corpus_keep_list": corpus_keep_list,
    "dedup_report": dedup_report,
    "compression_ratio": compression_ratio,
    "source_overlap_matrix": source_overlap_matrix,
}

ORACLES = {
    "dedup_clusters": _CLUSTERS_SQL,
    "span_dedup": _SPAN_DEDUP_SQL,
    "boilerplate_spans": _BOILER_SQL,
    "repetition_stats": _REPETITION_SQL,
    "quality_filter": _QUALITY_SQL,
    "corpus_keep_list": _keep_list_sql(),
    "dedup_report": _dedup_report_sql(),
    "source_overlap_matrix": _SRC_OVERLAP_SQL,
}
