"""Trained quality classifier (the GPT-3/LLaMA-style curation step:
a linear classifier scores every document's similarity to a trusted
target domain, and the scores drive sampling/filtering — Brown et al.
2020 §A; here logistic regression on hashed-TF features, trained with
full-batch gradient descent inside Spark).

Training is the same iterative-declarative discipline as the Lloyd
trainer and PageRank: the weight vector is a ≤(dim+1)-row DataFrame,
broadcast into each pass; per iteration one map-side margin join, one
keyed gradient aggregation, and a weight update — nothing collected
to the driver, lineage cut per round with localCheckpoint.

- Features: the signed hashing-trick TF triples (ranking.
  hashed_tf_features), L1-normalized per doc so feature scale is
  bounded and the fixed learning rate is stable.
- Labels: y=1 for the DSIR target source (the "trusted domain"), else
  0 — self-supervised from the corpus's own source column, exactly
  how production quality classifiers bootstrap (trusted slice vs the
  rest).
- Scale: per iteration the corpus pass is one broadcast join + two
  partial-aggregatable groupBys; the model state is dim+1 rows
  however large the corpus. exp/log are engine-specific, so no SQL
  oracle; tests/test_quality_classifier.py pins training against a
  pure-numpy implementation and checks the scores separate the
  target source from the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trx_spark.cache import memo

_CLF_ITERS = 10
_CLF_LR = 1.0
_BIAS_DIM = -1  # the bias term rides the same (dim, w) table


# featurized corpus memo: training builds it once, scoring reuses the
# same checkpointed frame instead of paying the tokenize + hashed-TF +
# norm pass a second time
def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dim, x, y): L1-normalized signed hashed-TF features
    plus the per-doc label (docs with zero tokens emit no rows).
    Checkpointed + memoized."""
    def build():
        from trx_spark.queries.curation import _DSIR_TARGET_SOURCE
        from trx_spark.queries.ranking import hashed_tf_features
        from trx_spark.tables import load_table

        tf = hashed_tf_features(spark, sf_dir)
        norms = tf.groupBy("doc_id").agg(F.sum(F.abs("value")).alias("n1"))
        labels = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            (F.col("source") == _DSIR_TARGET_SOURCE).cast("double").alias("y"),
        )
        feats = (
            # a doc whose signed features fully cancel (n1 = 0) has an
            # undefined normalization (0/0) — excluded, like zero-token docs
            tf.join(norms.filter(F.col("n1") > 0), "doc_id")
            .join(labels, "doc_id")
            .select(
                "doc_id",
                "dim",
                (F.col("value").cast("double") / F.col("n1").cast("double")).alias("x"),
                "y",
            )
        )
        # the bias rides as a constant feature (dim=_BIAS_DIM, x=1): one
        # margin join and one gradient groupBy cover weights AND bias —
        # no separate bias branch, two fewer stages per GD iteration
        bias_rows = feats.select("doc_id", "y").distinct().select(
            "doc_id", F.lit(_BIAS_DIM).cast("long").alias("dim"),
            F.lit(1.0).alias("x"), "y",
        )
        return feats.unionByName(bias_rows).localCheckpoint()

    return memo("classifier_features", (spark, sf_dir), build)


def _w_df(spark: SparkSession, w: dict) -> DataFrame:
    """The ≤(dim+1)-row weight vector as a TRUE LocalRelation (dim, w)
    via VALUES — ``createDataFrame`` on a Python list builds an
    RDD-backed frame whose per-round broadcast build is a scan JOB; a
    VALUES relation broadcasts with no job at all.  Weight literals go
    through the repr round-trip (bit-exact, ``exact.dlit``), and the
    broadcast hash join on the probe side preserves feats row order
    either way, so the margin sums are unchanged bit-for-bit (verified
    at three SFs, OPTIMIZATION_r14.md).  Above kmeans'
    ``_LITERAL_SQL_MAX_BYTES`` the weights fall back to
    ``createDataFrame`` (the same doubles, one scan job per round)
    rather than hand Catalyst a multi-MB VALUES text to parse."""
    from trx_spark.exact import dlit
    from trx_spark.operators import kmeans

    rows = ", ".join(
        f"(CAST({int(d)} AS BIGINT), {dlit(v)})"
        for d, v in sorted(w.items())
    )
    if len(rows) > kmeans._LITERAL_SQL_MAX_BYTES:
        return spark.createDataFrame(
            [(int(d), float(v)) for d, v in sorted(w.items())],
            "dim long, w double",
        )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(dim, w)")


def _train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch GD for _CLF_ITERS rounds; returns (dim, w) with the
    bias at dim=_BIAS_DIM.

    The weight state is ≤ dim+1 doubles BY CONSTRUCTION (hashed
    features), so the rounds run in the Bradley–Terry/pca discipline:
    one bounded (≤ dim+1-row) gradient collect per round and the
    update arithmetic w − (lr·g)/n_docs in DRIVER doubles — the same
    IEEE ops the former per-round Spark update evaluated, on the same
    values.  Every corpus-facing aggregation subtree (the margin
    groupBy, the doc-keyed gradient join, the dim groupBy) is
    UNCHANGED, and the weights re-enter each round through the same
    broadcast-join shape (now a LocalRelation build side), so the
    per-doc and per-dim double-sum orders — the declared-output
    constraint — are preserved; scores verified bit-identical to the
    former chain at three SFs (OPTIMIZATION_r14.md).  What the old
    shape paid per round and this one does not: the weight-frame
    localCheckpoint job, the checkpointed-broadcast build job, the
    n_docs crossJoin re-aggregation, and the w⋈grad update subtree."""
    def build():
        from trx_spark.queries.ranking import _FH_DIM

        feats = _features(spark, sf_dir)
        # bounded scalar (one count job, was re-broadcast every round)
        nd = float(feats.select("doc_id", "y").distinct().count())

        w = {d: 0.0 for d in range(_FH_DIM)}
        w[_BIAS_DIM] = 0.0

        for _ in range(_CLF_ITERS):
            # every doc has the bias row, so margin covers xw + b in one
            # aggregation and the sigmoid error needs no left-join fallback
            err = (
                feats.join(F.broadcast(_w_df(spark, w)), "dim")
                .groupBy("doc_id", "y")
                .agg(F.sum(F.col("x") * F.col("w")).alias("z"))
                .select(
                    "doc_id",
                    (
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))) - F.col("y")
                    ).alias("e"),
                )
            )
            grad_rows = (
                feats.join(err, "doc_id")
                .groupBy("dim")
                .agg(F.sum(F.col("x") * F.col("e")).alias("g"))
                .collect()  # ≤ dim+1 rows BY CONSTRUCTION (hashed features)
            )
            for r in grad_rows:
                g = r["g"]
                if g is None:  # the former coalesce(g, 0.0): w unchanged
                    continue
                # same op order as the former Spark column: w − (lr·g)/nd
                w[int(r["dim"])] = w[int(r["dim"])] - (_CLF_LR * float(g)) / nd
        return _w_df(spark, w)

    return memo("quality_classifier", (spark, sf_dir), build)


def quality_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained model: (dim, weight); bias at dim=-1."""
    return _train(spark, sf_dir).select("dim", F.col("w").alias("weight"))


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every featurizable doc scored by the trained model:
    (doc_id, label, score, predicted) with score = P(target-domain)."""
    w = _train(spark, sf_dir)
    feats = _features(spark, sf_dir)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
    return (
        feats.join(F.broadcast(w), "dim")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("x") * F.col("w")).alias("z"))
        .select(
            "doc_id",
            F.col("y").alias("label"),
            score.alias("score"),
            (score > 0.5).alias("predicted"),
        )
    )


# ---------------------------------------------------------------------
# Round-1 sufficient statistics (the driver-hashable integer core of
# the trainer — the `lm_bigram_counts` pattern applied to GD)
# ---------------------------------------------------------------------

_GD_SCALE = 1e12  # |x| ≤ 1 and ≤ ~1e6 rows/dim at gate sf → no overflow


def classifier_gd_round_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 sufficient statistics of the GD trainer, fixed-point
    exact: at w=0 the sigmoid is exactly 1/2, so the per-row error
    e = 1/2 − y is exact in binary and the round-1 gradient decomposes
    into the two label-conditioned sums of the quantized features —
    g[dim] = (gq_neg − gq_pos) / (2·S·n_docs) up to the fixed-point
    truncation shared by both engines. Hashing (dim, n_rows, n_pos,
    gq_pos, gq_neg) therefore pins the trainer's featurization, L1
    normalization, label join, bias channel and gradient aggregation
    bit-for-bit; only the later rounds' exp() stays outside the gate
    (engine-specific transcendental — covered by the numpy pin in
    tests/test_quality_classifier.py)."""
    from trx_spark.exact import fint

    feats = _features(spark, sf_dir)
    q = fint(F.col("x"), _GD_SCALE)
    return feats.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("y") == 1.0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("y") == 1.0, q).otherwise(F.lit(0))).alias("gq_pos"),
        F.sum(F.when(F.col("y") == 0.0, q).otherwise(F.lit(0))).alias("gq_neg"),
    )


def _gd_stats_sql() -> str:
    from trx_spark.exact import sql_fint
    from trx_spark.queries.curation import _DSIR_TARGET_SOURCE
    from trx_spark.queries.ranking import _FH_DIM, _FH_SIGN_A, _FH_SIGN_B, _TOKEN_RE
    from trx_spark.queries.textdata import _P, _tok_hash_sql

    tid = _tok_hash_sql("token")
    q = sql_fint("x", _GD_SCALE)
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
),
tf AS (
  SELECT doc_id, dim, CAST(SUM(s) AS BIGINT) AS value
  FROM hashed GROUP BY doc_id, dim
),
norms AS (
  SELECT doc_id, CAST(SUM(ABS(value)) AS BIGINT) AS n1
  FROM tf GROUP BY doc_id
  HAVING CAST(SUM(ABS(value)) AS BIGINT) > 0
),
labels AS (
  SELECT doc_id,
         CASE WHEN source = '{_DSIR_TARGET_SOURCE}'
              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
  FROM documents
),
feats AS (
  SELECT t.doc_id, t.dim,
         CAST(t.value AS DOUBLE) / CAST(n.n1 AS DOUBLE) AS x, l.y
  FROM tf t JOIN norms n USING (doc_id) JOIN labels l USING (doc_id)
  UNION ALL
  SELECT DISTINCT t.doc_id, CAST({_BIAS_DIM} AS BIGINT) AS dim,
         CAST(1 AS DOUBLE) AS x, l.y
  FROM tf t JOIN norms n USING (doc_id) JOIN labels l USING (doc_id)
),
quant AS (SELECT dim, y, {q} AS q FROM feats)
SELECT dim,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN y = 1.0 THEN q ELSE 0 END) AS BIGINT) AS gq_pos,
       CAST(SUM(CASE WHEN y = 0.0 THEN q ELSE 0 END) AS BIGINT) AS gq_neg
FROM quant GROUP BY dim
"""


# ---------------------------------------------------------------------
# Dataset cartography (Swayamdipta et al., EMNLP 2020): map every
# training example by its dynamics ACROSS training rounds — examples
# the model gets right from the start ("easy"), never ("hard"), or
# inconsistently ("ambiguous" — the band cartography says to keep).
# The sigmoid GD trainer above can't carry an oracle (exp is
# engine-specific), so the dynamics run over a FULL-BATCH PERCEPTRON
# in fixed point: margins are exact BIGINT dot products, the update is
# the integer-normalized sum of misclassified examples' features, and
# every round is deterministic and order-independent — so the per-doc
# margin trajectory is hash-checkable end-to-end (the PageRank/MM
# unrolled-rounds discipline).
#
# Certified bounds (load-bearing, DuckDB raises on int64 overflow):
# |qx| ≤ S = 10^6 (L1-normalized features); each round's CLASS-BALANCED
# update sign-safe-DIVs each class sum by its class size, so
# |upd| ≤ 2·S and |w_r| ≤ 2r·S ≤ 10^7; a margin sums ≤ _FH_DIM+1 = 65
# terms of |qx·w| ≤ 10^6·10^7 → |margin| ≤ 6.5·10^14 ≪ 2^63,
# independent of corpus size.  The pre-DIV class sums are ≤ n_docs·S —
# inside int64 to ~9·10^12 docs.
# Variability is the exact (max − min) margin spread: an integer-sum
# of squares would overflow and a float variance would be
# order-dependent, but MIN/MAX are order-independent and exact.
#
# Scale shape: one corpus-sized margin join + one keyed gradient agg
# per round against a broadcast ≤65-row weight table (the GD/kmeans
# harness); the misclassified-set join is doc-keyed.  The per-round
# margin frames union into one groupBy(doc_id) at the end.
# ---------------------------------------------------------------------

_PCT_ROUNDS = 5
_PCT_SCALE = 1e6


def _signdiv(s: str, n: str, op: str = "DIV") -> str:
    """Integer division applied to a POSITIVE operand with the sign
    re-applied — negative integer-division conventions differ between
    engines, so only magnitudes ever divide.  ``op`` is the dialect
    spelling: Spark ``DIV``, DuckDB ``//`` (the fim_split precedent)."""
    return (
        f"CASE WHEN ({s}) >= 0 THEN ({s}) {op} ({n}) "
        f"ELSE -((-({s})) {op} ({n})) END"
    )


def _signdiv_py(s: int, n: int) -> int:
    """Driver-int twin of `_signdiv` (positive-magnitude division with
    the sign re-applied; `//` on non-negative ints == Spark DIV ==
    DuckDB //)."""
    return s // n if s >= 0 else -((-s) // n)


def _margin_sql(w: dict) -> str:
    """Per-doc margin Σ qx·w[dim] over the dense feature array ``fx``
    as SQL text with the weight vector inlined (≤ dim+1 integer
    literals BY CONSTRUCTION) — an exact integer fold, so the value is
    order-independent and identical to the former broadcast-join sum."""
    if not w:
        return "CAST(0 AS BIGINT)"
    whens = " ".join(
        f"WHEN {int(d)} THEN CAST({int(v)} AS BIGINT)"
        for d, v in sorted(w.items())
    )
    return (
        "aggregate(fx, CAST(0 AS BIGINT), (acc, e) -> "
        f"acc + e.qx * (CASE e.dim {whens} ELSE CAST(0 AS BIGINT) END))"
    )


def perceptron_dynamics(base: DataFrame) -> DataFrame:
    """The cartography core over a quantized feature frame
    (doc_id, dim, qx, yy with yy ∈ {−1, +1}) — factored so tests can
    feed a separable fixture where the easy/hard extremes actually
    occur (the gate corpus's self-supervised labels are only weakly
    separable, so its map sits in the oscillating band).

    Every quantity here is exact int64 arithmetic, so the rounds run
    in the Bradley–Terry/pca discipline: the ≤ dim+1-row weight vector
    folds in DRIVER integers (one bounded collect per round), margins
    evaluate MAP-SIDE over a dense per-doc feature array with the
    weights inlined as literals, and the only per-round shuffle is the
    partially-aggregated ≤ dim+1-row gradient.  The former shape paid,
    per round, a corpus-wide misclassified join + a broadcast-join
    margin aggregation + a weight checkpoint — and then re-executed
    every margin frame in the final union."""
    # class sizes for the BALANCED update (the target class is ~5 % of
    # the corpus; an unbalanced batch perceptron would let the majority
    # class swamp every update and the map degenerates to
    # easy-if-negative) — two bounded scalars
    cls = {
        r["yy"]: r["n"]
        for r in base.select("doc_id", "yy")
        .distinct()
        .groupBy("yy")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_pos = max(int(cls.get(1, 0)), 1)
    n_neg = max(int(cls.get(-1, 0)), 1)

    # ONE dense pass: per (doc, yy) the sorted (dim, qx) entry array —
    # checkpointed; every round and every margin frame reads it map-side
    dense = (
        base.groupBy("doc_id", "yy")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "qx"))).alias("fx"))
        .localCheckpoint()
    )

    # round 0 (all-zero weights) seeds the first misclassified set
    # (yy·0 ≤ 0 for every doc) but is EXCLUDED from the map — counting
    # it would make the 'easy' category unreachable by construction
    w: dict = {}
    margin_sqls: list[str] = []
    for _ in range(_PCT_ROUNDS):
        m_prev = _margin_sql(w)
        upd_rows = (
            dense.filter(F.expr(f"yy * ({m_prev}) <= 0"))
            .select("yy", F.explode("fx").alias("e"))
            .groupBy(F.col("e.dim").alias("dim"))
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("yy") == 1, F.col("e.qx"))),
                    F.lit(0).cast("long"),
                ).alias("sp"),
                F.coalesce(
                    F.sum(F.when(F.col("yy") == -1, F.col("e.qx"))),
                    F.lit(0).cast("long"),
                ).alias("sn"),
            )
            .collect()  # ≤ dim+1 rows BY CONSTRUCTION (hashed features)
        )
        for r_ in upd_rows:
            u = _signdiv_py(int(r_["sp"]), n_pos) - _signdiv_py(
                int(r_["sn"]), n_neg
            )
            w[int(r_["dim"])] = w.get(int(r_["dim"]), 0) + u
        margin_sqls.append(_margin_sql(w))

    allm = None
    for ms in margin_sqls:
        m = dense.select("doc_id", "yy", F.expr(ms).alias("m"))
        allm = m if allm is None else allm.unionByName(m)
    cart = allm.groupBy("doc_id", "yy").agg(
        F.min("m").alias("margin_min"),
        F.max("m").alias("margin_max"),
        F.sum("m").alias("margin_sum"),
        F.sum(
            F.when(F.col("yy") * F.col("m") > 0, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_correct"),
    )
    category = (
        F.when(F.col("n_correct") == _PCT_ROUNDS, F.lit("easy"))
        .when(F.col("n_correct") == 0, F.lit("hard"))
        .otherwise(F.lit("ambiguous"))
    )
    return cart.select(
        "doc_id",
        F.col("yy").alias("label"),
        "margin_min",
        "margin_max",
        "margin_sum",
        (F.col("margin_max") - F.col("margin_min")).alias("margin_spread"),
        "n_correct",
        category.alias("category"),
    )


def training_dynamics_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc training-dynamics map over ``_PCT_ROUNDS`` balanced
    full-batch perceptron rounds on the quality-classifier features:
    (doc_id, label, margin_min, margin_max, margin_sum, margin_spread,
    n_correct, category) with category easy / hard / ambiguous à la
    dataset cartography."""
    from trx_spark.exact import fint

    feats = _features(spark, sf_dir)
    base = feats.select(
        "doc_id",
        "dim",
        fint(F.col("x"), _PCT_SCALE).alias("qx"),
        (F.lit(2.0) * F.col("y") - F.lit(1.0)).cast("long").alias("yy"),
    ).localCheckpoint()
    return perceptron_dynamics(base)


def _dynamics_sql() -> str:
    """Unrolled-rounds oracle: the identical perceptron replayed as
    chained CTEs (w1..w4, m1..m5) over the shared feats construction."""
    from trx_spark.exact import sql_fint
    from trx_spark.queries.curation import _DSIR_TARGET_SOURCE
    from trx_spark.queries.ranking import _FH_DIM, _FH_SIGN_A, _FH_SIGN_B, _TOKEN_RE
    from trx_spark.queries.textdata import _P, _tok_hash_sql

    tid = _tok_hash_sql("token")
    q = sql_fint("x", _PCT_SCALE)
    sp = "COALESCE(SUM(CASE WHEN b.yy = 1 THEN b.qx END), 0)"
    sn = "COALESCE(SUM(CASE WHEN b.yy = -1 THEN b.qx END), 0)"
    sd = (
        f"{_signdiv(sp, 'cls.np', op='//')} - {_signdiv(sn, 'cls.nn', op='//')}"
    )
    parts = [f"""
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
),
tf AS (
  SELECT doc_id, dim, CAST(SUM(s) AS BIGINT) AS value
  FROM hashed GROUP BY doc_id, dim
),
norms AS (
  SELECT doc_id, CAST(SUM(ABS(value)) AS BIGINT) AS n1
  FROM tf GROUP BY doc_id
  HAVING CAST(SUM(ABS(value)) AS BIGINT) > 0
),
labels AS (
  SELECT doc_id,
         CASE WHEN source = '{_DSIR_TARGET_SOURCE}'
              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
  FROM documents
),
feats AS (
  SELECT t.doc_id, t.dim,
         CAST(t.value AS DOUBLE) / CAST(n.n1 AS DOUBLE) AS x, l.y
  FROM tf t JOIN norms n USING (doc_id) JOIN labels l USING (doc_id)
  UNION ALL
  SELECT DISTINCT t.doc_id, CAST({_BIAS_DIM} AS BIGINT) AS dim,
         CAST(1 AS DOUBLE) AS x, l.y
  FROM tf t JOIN norms n USING (doc_id) JOIN labels l USING (doc_id)
),
base AS (
  SELECT doc_id, dim, {q} AS qx, CAST(2.0 * y - 1.0 AS BIGINT) AS yy
  FROM feats
),
cls AS (
  SELECT CAST(GREATEST(COUNT(DISTINCT CASE WHEN yy = 1 THEN doc_id END), 1)
              AS BIGINT) AS np,
         CAST(GREATEST(COUNT(DISTINCT CASE WHEN yy = -1 THEN doc_id END), 1)
              AS BIGINT) AS nn
  FROM base
),
m1 AS (SELECT DISTINCT doc_id, yy, CAST(0 AS BIGINT) AS m FROM base)"""]
    prev_w = None
    for r in range(1, _PCT_ROUNDS + 1):
        upd = f"""
u{r} AS (
  SELECT b.dim, CAST({sd} AS BIGINT) AS u
  FROM base b
  JOIN m{r} ON b.doc_id = m{r}.doc_id, cls
  WHERE m{r}.yy * m{r}.m <= 0
  GROUP BY b.dim, cls.np, cls.nn
)"""
        if prev_w is None:
            wcte = f"w{r} AS (SELECT dim, u AS w FROM u{r})"
        else:
            wcte = f"""
w{r} AS (
  SELECT COALESCE({prev_w}.dim, u{r}.dim) AS dim,
         COALESCE({prev_w}.w, 0) + COALESCE(u{r}.u, 0) AS w
  FROM {prev_w} FULL JOIN u{r} ON {prev_w}.dim = u{r}.dim
)"""
        mcte = f"""
m{r + 1} AS (
  SELECT b.doc_id, b.yy,
         CAST(SUM(b.qx * COALESCE(w{r}.w, 0)) AS BIGINT) AS m
  FROM base b LEFT JOIN w{r} ON b.dim = w{r}.dim
  GROUP BY b.doc_id, b.yy
)"""
        parts += [upd, wcte, mcte]
        prev_w = f"w{r}"
    # m1 (pre-update zeros) seeds u1 but stays OUT of the map — see the
    # Spark twin's comment
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM m{r}" for r in range(2, _PCT_ROUNDS + 2)
    )
    tail = f""",
allm AS ({union}),
cart AS (
  SELECT doc_id, yy,
         CAST(MIN(m) AS BIGINT) AS margin_min,
         CAST(MAX(m) AS BIGINT) AS margin_max,
         CAST(SUM(m) AS BIGINT) AS margin_sum,
         CAST(SUM(CASE WHEN yy * m > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM allm GROUP BY doc_id, yy
)
SELECT doc_id, yy AS label, margin_min, margin_max, margin_sum,
       margin_max - margin_min AS margin_spread, n_correct,
       CASE WHEN n_correct = {_PCT_ROUNDS} THEN 'easy'
            WHEN n_correct = 0 THEN 'hard'
            ELSE 'ambiguous' END AS category
FROM cart"""
    return ",".join(parts) + tail


QUERIES = {
    "quality_classifier_scores": quality_classifier_scores,
    "classifier_gd_round_stats": classifier_gd_round_stats,
    "training_dynamics_map": training_dynamics_map,
}

ORACLES: dict[str, str] = {
    "classifier_gd_round_stats": _gd_stats_sql(),
    "training_dynamics_map": _dynamics_sql(),
}
