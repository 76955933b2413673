"""Trained language identification: multinomial Naive Bayes over
character bigrams — the curation-grade replacement for the marker-token
heuristic (`textdata.lang_id`), trained entirely IN-ENGINE from the
corpus's own labels (the classifier/tokenizer-trainer harness shape:
data-sized work only in feature counting; the model is a bounded
broadcast table).

Scoring is the log-free fixed-point integer discipline (the `_LC_TABLE`
pattern): log2 of a data-dependent positive integer is computed as
``e·2^F + TBL[mantissa bucket]`` where ``e = bitlength(x)−1`` (via
``length(bin(x))``, identical in both engines) and ``TBL`` is a
64-entry CONSTANT integer table precomputed in Python and embedded
verbatim in the Spark expression and the DuckDB SQL — so the per-doc
class scores are BIGINTs that match bit-for-bit and the argmax is a
portable fixed-precedence CASE. Approximation error ≤ ~0.012 bits per
term, far under class-score gaps; the point is a deterministic
ORDERING, not the float log value.

Scale shape: char-bigram extraction is a map-side explode (2× chars
rows, no shuffle); the model build is one partially-aggregatable
groupBy (lang, bigram) whose result is bounded by langs·charset² and
broadcast; per-doc scoring is one broadcast join + one groupBy doc_id
with |langs| conditional sums. Nothing data-proportional is ever
broadcast; no windows.

Reference anchor: the reference has no trained models — langid follows
the engine's own trainer family (classifier.py's GD classifier,
bpe/wordpiece/unigram trainers) as a first-class curation operator.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.tables import fan_out_small_scan, load_table

# fixed-point parameters: F fraction bits, Q mantissa buckets
_LG_FBITS = 16
_LG_ONE = 1 << _LG_FBITS
_LG_Q = 64
# TBL[i] ≈ log2(1 + (i+0.5)/Q) in F-bit fixed point — 64 integer
# constants, precomputed once and embedded verbatim in both engines
_LG_TBL = [
    int(round(_math.log2(1.0 + (i + 0.5) / _LG_Q) * _LG_ONE))
    for i in range(_LG_Q)
]
_LG_TBL_CSV = ", ".join(str(v) for v in _LG_TBL)

# the gate's label set (the documents table's five langs), in the
# fixed argmax precedence order (first wins ties)
_LANGS = ("de", "en", "es", "fr", "zh")


def _l2fix_spark(x: str) -> str:
    """Spark SQL text for the fixed-point log2 of positive integer
    expression ``x``: e·2^F + TBL[⌊((x·2^F ≫ e) − 2^F)·Q ≫ F⌋].

    Capacity bound: the mantissa step shifts ``x`` left by F=16 bits
    BEFORE normalizing, so the operand must satisfy ``x < 2^47`` or the
    int64 shift silently wraps.  2^47 ≈ 1.4·10^14 — comfortably above
    any per-class bigram count, corpus token total, or event count this
    engine feeds it (a 100 TB corpus is ~2.5·10^13 tokens); at operands
    beyond that, split the exponent off first (``x >> (e − 46)`` then
    shift the remainder) instead of widening the table.  Callers:
    lang_id_trained (per-class counts), hbos_outlier_scores (event
    total), lm_surprisal_fix (corpus token counts)."""
    e = f"(length(bin({x})) - 1)"
    m = f"shiftright(shiftleft({x}, {_LG_FBITS}), CAST({e} AS INT))"
    idx = f"shiftright(({m} - {_LG_ONE}) * {_LG_Q}, {_LG_FBITS})"
    return (
        f"({e} * {_LG_ONE}"
        f" + element_at(array({_LG_TBL_CSV}), CAST({idx} AS INT) + 1))"
    )


def _l2fix_duck(x: str) -> str:
    # same x < 2^47 operand bound as _l2fix_spark (int64 << 16 wraps)
    e = f"(length(bin({x})) - 1)"
    m = f"((({x}) << {_LG_FBITS}) >> {e})"
    idx = f"((({m} - {_LG_ONE}) * {_LG_Q}) >> {_LG_FBITS})"
    return (
        f"({e} * {_LG_ONE}"
        f" + list_extract([{_LG_TBL_CSV}], CAST({idx} AS INTEGER) + 1))"
    )


# char bigrams of the raw text (guarded: sequence(1, 0) DESCENDS in
# Spark — the _shingled footgun — while DuckDB's range(1, 1) is empty).
# Spark-side the text is split into a char array FIRST and adjacent
# chars concatenated via O(1) element_at: substring(text, i, 2) inside
# the transform is O(i) per call (UTF-8 boundary scan), which made the
# extraction quadratic in doc length (19 s at sf0.1 → 2 s).  DuckDB's
# substr is offset-addressed, so the oracle keeps the simpler spelling;
# both produce the identical bigram multiset.
_BG_EXPR = (
    "CASE WHEN length(text) >= 2 THEN "
    "transform(sequence(1, length(text) - 1), "
    "i -> concat(element_at(cs, i), element_at(cs, i + 1))) "
    "ELSE array() END"
)
_BG_SQL = (
    "CASE WHEN length(text) >= 2 THEN "
    "list_transform(range(1, length(text)), i -> substr(text, i, 2)) "
    "ELSE [] END"
)


# trained model memo per (docs-plan, langs): the (lang, bg)
# likelihood table and the per-lang denominator/prior row are BOUNDED
# (langs·charset² and |langs| rows), so checkpointing them follows the
# trained-state discipline of the BPE/WordPiece/classifier caches —
# a steady-state caller pays only the scoring pass, not the re-train
def nb_lang_scores(docs: DataFrame, langs: tuple = _LANGS) -> DataFrame:
    """Train multinomial NB (Laplace-smoothed char bigrams) on
    ``docs`` (doc_id, lang, text) and score every doc against every
    class. Output: (doc_id, lang, s_<lang>... fixed-point BIGINT class
    scores, predicted_lang by fixed-precedence argmax).

    score(d, c) = L2(prior_c+1) − L2(n_docs+|langs|)
                + Σ_bg cnt·L2(count(c,bg)+1) − m_d·L2(total_c+V)
    — all terms the fixed-point integer log2 above, so the BIGINT
    scores (and the argmax) are engine-independent."""
    # NOTE: the bigram explode runs twice (docbg and model) on purpose —
    # deriving the model from docbg⋈labels would re-shuffle the
    # corpus-sized bigram table on doc_id, while both consumers here are
    # map-side extractions whose groupBys partially aggregate before
    # anything crosses the wire (model collapses to langs·charset² rows)
    bg = docs.withColumn("cs", F.split(F.col("text"), "")).select(
        "doc_id", "lang", F.explode(F.expr(_BG_EXPR)).alias("bg")
    )

    # per observed (lang, bg): the fixed-point log numerator; per lang:
    # the per-token denominator and the prior term — both bounded
    # trained state.  The per-doc bigram count table (exact integer
    # counts — order-independent, safe to checkpoint) joins the model
    # in EVERY scoring call, so it is memoized alongside: a steady
    # session pays one join + two keyed aggs instead of re-running the
    # corpus bigram explode + groupBy per call.
    def build():
        docbg = (
            bg.groupBy("doc_id", "bg")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint()
        )
        model = bg.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("c"))
        totals = model.groupBy("lang").agg(F.sum("c").alias("t"))
        vocab = model.select("bg").distinct().agg(F.count(F.lit(1)).alias("v"))
        priors = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("d"))
        ndocs = docs.agg(F.count(F.lit(1)).alias("nd"))
        ml = (
            model.withColumn("l2c", F.expr(_l2fix_spark("c + 1")))
            .select("lang", "bg", "l2c")
            .localCheckpoint()
        )
        lden = (
            totals.join(F.broadcast(vocab))
            .join(F.broadcast(priors), "lang")
            .join(F.broadcast(ndocs))
            .select(
                "lang",
                F.expr(_l2fix_spark("t + v")).alias("l2den"),
                (
                    F.expr(_l2fix_spark("d + 1"))
                    - F.expr(_l2fix_spark(f"nd + {len(langs)}"))
                ).alias("prior_fix"),
            )
            .localCheckpoint()
        )
        return ml, lden, docbg

    ml, lden, docbg = memo(
        "nb_langid_model",
        (docs.sparkSession, docs.semanticHash(), langs),
        build,
    )
    mdoc = docbg.groupBy("doc_id").agg(F.sum("cnt").alias("m_doc"))
    obs = (
        docbg.join(F.broadcast(ml), "bg")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("cnt") * F.col("l2c")).alias("num"))
    )
    # (doc × lang) grid via a ≤|langs|-row broadcast cross join, LEFT
    # joined to the observed numerators: a doc whose bigrams never
    # occur in some class still gets that class's score (num = 0)
    grid = (
        mdoc.crossJoin(F.broadcast(lden))
        .join(obs, ["doc_id", "lang"], "left")
        .withColumn(
            "s",
            F.coalesce(F.col("num"), F.lit(0).cast("long"))
            - F.col("m_doc") * F.col("l2den")
            + F.col("prior_fix"),
        )
    )
    scored = grid.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("lang") == lg, F.col("s"))).alias(f"s_{lg}")
            for lg in langs
        ]
    )
    # fixed-precedence argmax (first lang in tuple order wins ties) —
    # the identical CASE text both engines run
    case = []
    for i, lg in enumerate(langs):
        conds = " AND ".join(
            f"s_{lg} >= s_{other}" for other in langs[i + 1:]
        )
        case.append(f"WHEN {conds} THEN '{lg}'" if conds else f"ELSE '{lg}'")
    pred = F.expr("CASE " + " ".join(case) + " END")
    labels = docs.select("doc_id", "lang")
    return (
        labels.join(scored, "doc_id")
        .withColumn("predicted_lang", pred)
        .select(
            "doc_id", "lang", *[f"s_{lg}" for lg in langs], "predicted_lang"
        )
    )


def lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate query: NB char-bigram language-ID trained on the
    documents table's own labels, scored over the full corpus."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    return nb_lang_scores(docs, _LANGS)


def _nb_sql(langs: tuple = _LANGS) -> str:
    case = []
    for i, lg in enumerate(langs):
        conds = " AND ".join(
            f"s_{lg} >= s_{other}" for other in langs[i + 1:]
        )
        if conds:
            case.append(f"WHEN {conds} THEN '{lg}'")
        else:
            case.append(f"ELSE '{lg}'")
    argmax = "CASE " + " ".join(case) + " END"
    return f"""
WITH bg AS (
  SELECT doc_id, lang, unnest({_BG_SQL}) AS bg FROM documents
),
docbg AS (
  SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bg GROUP BY 1, 2
),
mdoc AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS m_doc FROM docbg GROUP BY 1),
model AS (
  SELECT lang, bg, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
),
totals AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM model GROUP BY 1),
vocab AS (SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS v FROM model),
priors AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d FROM documents GROUP BY 1),
ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
ml AS (SELECT lang, bg, {_l2fix_duck('c + 1')} AS l2c FROM model),
obs AS (
  SELECT db.doc_id, ml.lang, CAST(SUM(db.cnt * ml.l2c) AS BIGINT) AS num
  FROM docbg db JOIN ml ON db.bg = ml.bg
  GROUP BY 1, 2
),
lden AS (
  SELECT t.lang, {_l2fix_duck('t.t + vocab.v')} AS l2den,
         {_l2fix_duck('p.d + 1')} - {_l2fix_duck(f'ndocs.nd + {len(langs)}')}
           AS prior_fix
  FROM totals t, vocab, priors p, ndocs
  WHERE t.lang = p.lang
),
grid AS (
  SELECT m.doc_id,
         COALESCE(o.num, 0) - m.m_doc * l.l2den + l.prior_fix AS s,
         l.lang
  FROM mdoc m CROSS JOIN lden l
  LEFT JOIN obs o ON o.doc_id = m.doc_id AND o.lang = l.lang
),
sc AS (
  SELECT doc_id,
         {", ".join(f"MAX(CASE WHEN lang = '{lg}' THEN s END) AS s_{lg}" for lg in langs)}
  FROM grid GROUP BY doc_id
)
SELECT d.doc_id, d.lang, {", ".join(f"sc.s_{lg}" for lg in langs)},
       {argmax} AS predicted_lang
FROM sc JOIN documents d ON sc.doc_id = d.doc_id
"""


QUERIES = {"lang_id_trained": lang_id_trained}
ORACLES = {"lang_id_trained": _nb_sql()}
