"""Embedding similarity at pair and cell grain (training-data brief:
"embedding-cosine near-dup" and "an IVF or LSH-bucketed variant as the
scale path").

Both queries keep every dot product JVM-side: cosine terms are
``zip_with`` + ``aggregate`` folds over the embedding arrays producing
fixed-point INTEGER terms, so the sums are order-independent and
bit-identical to the oracle's unnest-join-SUM formulation (same integer
multiset → same sum), with no UDF and no per-element shuffle.
"""

from __future__ import annotations

import math as _pymath

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.cache import memo
from trx_spark.exact import (
    EMB_SCALE,
    array_dot,
    array_norm2,
    dfinal,
    dlit,
    dlit_array,
    dot_fixed_py,
    fint,
    sql_array_dot,
    sql_dfinal,
    sql_dsum,
    sql_fint,
)
from trx_spark.operators.kmeans import (
    assign_literal,
    lloyd_centroids_collected,
)
from trx_spark.queries.textdata import (
    _LSH_BUCKET_CAP,
    _PLANE_COEF,
    _exact_topk_within,
    _plane_sql,
    _query_vec0,
    ann_lsh_buckets,
)
from trx_spark.tables import fan_out_small_scan, load_table

_NEARDUP_COS = 0.25  # isotropic test corpus tops out near 0.44


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucket-blocked: candidates
    share the 8-plane hyperplane bucket (equi-join — never all-pairs),
    oversized buckets are dropped pre-join like the MinHash banding cap,
    and the exact cosine then gates at ``_NEARDUP_COS``. Per-vector
    norms are computed BEFORE the self-join so each side carries a
    scalar, and the pair dot product is a single array fold per
    candidate row."""
    emb = fan_out_small_scan(
        load_table(spark, sf_dir, "embeddings")
    ).select("vec_id", "embedding")
    b = (
        ann_lsh_buckets(spark, sf_dir)
        .join(emb, "vec_id")
        .withColumn("n1", array_norm2(F.col("embedding"), EMB_SCALE))
    )
    w = Window.partitionBy("bucket")
    capped = (
        b.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= _LSH_BUCKET_CAP)
        .drop("_bsz")
    )
    a = capped.select(
        F.col("vec_id").alias("vec_a"),
        F.col("bucket"),
        F.col("embedding").alias("ea"),
        F.col("n1").alias("na"),
    )
    c = capped.select(
        F.col("vec_id").alias("vec_b"),
        F.col("bucket"),
        F.col("embedding").alias("eb"),
        F.col("n1").alias("nb"),
    )
    pairs = a.join(c, ["bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    cos = array_dot(F.col("ea"), F.col("eb"), EMB_SCALE) / F.sqrt(F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= F.lit(float(_NEARDUP_COS)))
        .select("vec_a", "vec_b", "cos_sim")
    )


_EX_CTE = """
ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, pos FROM (
    SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
    FROM embeddings) t
)"""

_BUCKETS_CTE = f"""
allp AS (
  {' UNION ALL '.join(_plane_sql(j, a, b) for j, (a, b) in enumerate(_PLANE_COEF))}
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
)"""


_NEARDUP_SQL = f"""
WITH {_EX_CTE},
{_BUCKETS_CTE},
norms AS (
  SELECT vec_id, {sql_dsum('x * x', EMB_SCALE)} AS n1 FROM ex GROUP BY vec_id
),
bsz AS (SELECT bucket, count(*) AS c FROM buckets GROUP BY bucket),
capped AS (
  SELECT b.vec_id, b.bucket FROM buckets b JOIN bsz USING (bucket)
  WHERE bsz.c <= {_LSH_BUCKET_CAP}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pd AS (
  SELECT p.vec_a, p.vec_b, {sql_dsum('xa.x * xb.x', EMB_SCALE)} AS dot
  FROM pairs p
  JOIN ex xa ON xa.vec_id = p.vec_a
  JOIN ex xb ON xb.vec_id = p.vec_b AND xb.pos = xa.pos
  GROUP BY p.vec_a, p.vec_b
)
SELECT pd.vec_a, pd.vec_b, pd.dot / SQRT(na.n1 * nb.n1) AS cos_sim
FROM pd JOIN norms na ON na.vec_id = pd.vec_a
        JOIN norms nb ON nb.vec_id = pd.vec_b
WHERE pd.dot / SQRT(na.n1 * nb.n1) >= CAST({_NEARDUP_COS!r} AS DOUBLE)
"""

# ---------------------------------------------------------------------
# IVF-flat top-k: coarse quantizer cells + probed exact re-rank
# ---------------------------------------------------------------------

_N_CELLS = 16
_N_PROBE = 2


def _init_cents_lit(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    """The first _N_CELLS vectors as a collected literal codebook
    (bounded: 16 x 64 doubles BY CONSTRUCTION).  Memoized alongside the
    assignment so the probe ranking reuses the same collect."""
    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        return sorted(
            (int(r[0]), [float(v) for v in r[1]])
            for r in emb.filter(F.col("vec_id") < _N_CELLS).collect()
        )

    return memo("ivf_init_cents", (spark, sf_dir), build)


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse quantizer assignment: centroids are the first _N_CELLS
    vectors (a deterministic stand-in for a trained k-means codebook —
    the assignment/probe PLUMBING is the operator under test), each
    vector lands in the cell of its max-dot-product centroid.  The
    centroid table is 16 rows BY CONSTRUCTION → collected once and
    inlined as literals, so the assignment is ONE map-side pass (no
    broadcast join, no n x k argmax shuffle — `kmeans.assign_literal`;
    the struct-max tie-break equals the former window's
    ORDER BY dot DESC, cid).  Memoized — the assignment is consumed by
    ann_ivf_topk and the LSH/IVF composites."""
    def build():
        cents = _init_cents_lit(spark, sf_dir)
        emb = fan_out_small_scan(
            load_table(spark, sf_dir, "embeddings")
        ).select("vec_id", "embedding")
        return (
            assign_literal(emb, cents)
            .select("vec_id", "cid")
            .localCheckpoint()
        )

    return memo("ivf_cells_assign", (spark, sf_dir), build)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k (the brief's "IVF variant as the scale
    path"): assign every vector to its nearest of 16 coarse cells, probe
    the query's _N_PROBE nearest cells, exact cosine re-rank within the
    probed cells. At scale the inverted file is a partition-pruned read
    (cell = partition key) and only ~n_probe/n_cells of the corpus is
    scored."""
    cells = _cells(spark, sf_dir)
    probe_cids = _query_cell_ranks(spark, sf_dir)
    cand = cells.join(F.broadcast(probe_cids), "cid", "left_semi").select("vec_id")
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        cand,
        q0=_query_vec0(spark, sf_dir),
    )


def _query_vec(spark: SparkSession, sf_dir: str) -> list:
    """The query vector (vec_id 0) collected once per session — ONE
    bounded row, shared with the exact re-rank's memo
    (textdata._query_vec0) so the two never collect it twice."""
    v = _query_vec0(spark, sf_dir)
    if v is None:
        raise IndexError("embeddings table has no vec_id 0 row")
    return v


def _probe_df(spark: SparkSession, q: list, cents: list) -> DataFrame:
    """The query's _N_PROBE best cells as a tiny literal relation: the
    k dots run in driver doubles (`dot_fixed_py` — bit-exact twin of
    the former scored-table filter), sorted by (dot DESC, cid).  Big
    literal expression trees made every consumer re-pay seconds of
    Catalyst analysis per call; a 2-row local relation costs nothing
    (measured: ~5 ms per py4j call, 2-4 s per big-tree analysis)."""
    ranked = sorted(
        ((dot_fixed_py(q, c, EMB_SCALE), cid) for cid, c in cents),
        key=lambda t: (-t[0], t[1]),
    )
    return spark.createDataFrame(
        [(int(cid),) for _dot, cid in ranked[:_N_PROBE]], "cid long"
    )


def _query_cell_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query's _N_PROBE nearest cells by centroid dot product —
    driver doubles over the bounded (query x codebook) pair (IEEE
    multiply is commutative, so dot(q, c) == the former dot(c, q)
    bit-for-bit)."""
    return _probe_df(
        spark,
        _query_vec(spark, sf_dir),
        _init_cents_lit(spark, sf_dir),
    )


# ex → cents → celldots → cells: the coarse-quantizer assignment chain,
# shared by the IVF oracle and the cluster-topics (c-TF-IDF) oracle
_CELLS_CTES = f"""{_EX_CTE},
cents AS (SELECT vec_id AS cid, pos, x AS c FROM ex WHERE vec_id < {_N_CELLS}),
celldots AS (
  SELECT e.vec_id, c.cid, {sql_dsum('e.x * c.c', EMB_SCALE)} AS dot
  FROM ex e JOIN cents c USING (pos) GROUP BY e.vec_id, c.cid
),
cells AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
    FROM celldots) t
  WHERE rn = 1
)"""

_IVF_SQL = f"""
WITH {_CELLS_CTES},
qprobe AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY dot DESC, cid) AS rn
    FROM celldots WHERE vec_id = 0) t
  WHERE rn <= {_N_PROBE}
),
cand AS (SELECT vec_id FROM cells WHERE cid IN (SELECT cid FROM qprobe)),
exc AS (SELECT e.* FROM ex e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
q0 AS (SELECT pos, x AS y FROM ex WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', EMB_SCALE)} AS n1
  FROM exc e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT n1 AS nq FROM per WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= 10
"""


# ---------------------------------------------------------------------
# Trained coarse quantizer: distributed Lloyd iterations (k-means)
# ---------------------------------------------------------------------

_KM_ROUNDS = 2


def _lloyd_round_sql(src: str, k: int, sfx: str = "") -> str:
    """The oracle twin of the trained codebook (``_KM_ROUNDS`` = 2
    assignment steps, one update between) over ``src`` (vec_id, pos, x)
    as CTEs: init = the first ``k`` vectors (cents0), assign (cd0 → a0),
    update (cents1), re-assign (cd1 → a1, with the winning dot). Every
    CTE name carries the suffix ``sfx``."""
    return f"""cents0{sfx} AS (SELECT vec_id AS cid, pos, x AS c FROM {src} WHERE vec_id < {k}),
cd0{sfx} AS (
  SELECT e.vec_id, c.cid, {sql_dsum('e.x * c.c', EMB_SCALE)} AS dot
  FROM {src} e JOIN cents0{sfx} c USING (pos) GROUP BY e.vec_id, c.cid
),
a0{sfx} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
    FROM cd0{sfx}) t
  WHERE rn = 1
),
cents1{sfx} AS (
  SELECT a.cid, e.pos, {sql_dsum('e.x', EMB_SCALE)} / COUNT(*) AS c
  FROM {src} e JOIN a0{sfx} a USING (vec_id)
  GROUP BY a.cid, e.pos
),
cd1{sfx} AS (
  SELECT e.vec_id, c.cid, {sql_dsum('e.x * c.c', EMB_SCALE)} AS dot
  FROM {src} e JOIN cents1{sfx} c USING (pos) GROUP BY e.vec_id, c.cid
),
a1{sfx} AS (
  SELECT vec_id, cid, dot FROM (
    SELECT vec_id, cid, dot,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
    FROM cd1{sfx}) t
  WHERE rn = 1
)"""


# kmeans_cells / ann_ivf_trained_topk / semantic_dedup all train the
# SAME coarse codebook (lloyd_centroids, k=_N_CELLS, one update), and
# pq_codes / ann_pq_topk the same grouped PQ codebooks — memoize the
# localCheckpoint'ed results, like the trxdomain curve bank. The codebook is k×dim rows (tiny); what the cache saves
# is the training passes over the corpus.
def _trained_cents(spark: SparkSession, sf_dir: str) -> list:
    """The Lloyd-trained coarse codebook as a collected literal list
    (k x dim BY CONSTRUCTION — bounded driver state, the pca-moment
    discipline).  Training runs through the literal path: 2 bounded
    collects (init rows + updated centroids), every corpus pass
    map-side.  Bit-identical centroids to the former DataFrame chain."""
    def build():
        emb = fan_out_small_scan(
            load_table(spark, sf_dir, "embeddings")
        ).select("vec_id", "embedding")
        return lloyd_centroids_collected(
            emb, k=_N_CELLS, updates=_KM_ROUNDS - 1
        )

    return memo("coarse_codebook", (spark, sf_dir), build)


def _trained_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's trained cell + dot (vec_id, cid, dot) — ONE
    map-side pass against the literal trained codebook (was: broadcast
    join into an n x k score table + groupBy argmax shuffle), shared by
    kmeans_cells / ann_ivf_trained_topk / ann_ivfpq_topk /
    semantic_dedup / cluster_balanced_sample / contrastive_triples."""
    def build():
        cents = _trained_cents(spark, sf_dir)
        emb = fan_out_small_scan(
            load_table(spark, sf_dir, "embeddings")
        ).select("vec_id", "embedding")
        return assign_literal(emb, cents).localCheckpoint()

    return memo("trained_assign", (spark, sf_dir), build)


def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF codebook assignment: 2 Lloyd rounds (init = first 16
    vectors, one centroid update between the two assignment steps) via
    the literal-codebook path. Output: every vector's final cell and
    its dot product with that cell's trained centroid — the codebook
    the IVF scale path would partition the corpus by. Fixed-point sums
    keep the trained centroids bit-exact against the oracle despite
    float input."""
    # == lloyd_assign(emb, k, rounds=_KM_ROUNDS) with the trained
    # codebook AND the assignment shared across the quantizer queries
    return _trained_assign(spark, sf_dir).select(
        "vec_id", F.col("cid").cast("long").alias("cid"), "dot"
    )


_KMEANS_SQL = f"""
WITH {_EX_CTE},
{_lloyd_round_sql("ex", _N_CELLS)}
SELECT vec_id, CAST(cid AS BIGINT) AS cid, dot FROM a1
"""


def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat top-k over the TRAINED codebook: Lloyd-trained cells,
    probe the query's _N_PROBE best cells by trained-centroid dot,
    exact cosine re-rank within the probed cells. The full trained
    scale path: train -> partition-by-cell -> probe -> re-rank, with
    every stage a broadcast join or keyed agg. The trained codebook is
    localCheckpoint'ed so training executes once, then both the corpus
    assignment and the query's probe ranking read the same scored
    table."""
    assign = _trained_assign(spark, sf_dir)
    probe = _trained_query_probe(spark, sf_dir)
    cand = assign.join(F.broadcast(probe), "cid", "left_semi").select("vec_id")
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        cand,
        q0=_query_vec0(spark, sf_dir),
    )


def _trained_query_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query's _N_PROBE best trained cells — driver doubles over
    the bounded (query x trained codebook) pair (same doubles as the
    former scored-table filter)."""
    return _probe_df(
        spark,
        _query_vec(spark, sf_dir),
        _trained_cents(spark, sf_dir),
    )


_IVF_TRAINED_SQL = f"""
WITH {_EX_CTE},
{_lloyd_round_sql("ex", _N_CELLS)},
qprobe AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY dot DESC, cid) AS rn
    FROM cd1 WHERE vec_id = 0) t
  WHERE rn <= {_N_PROBE}
),
cand AS (SELECT vec_id FROM a1 WHERE cid IN (SELECT cid FROM qprobe)),
exc AS (SELECT e.* FROM ex e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
q0 AS (SELECT pos, x AS y FROM ex WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', EMB_SCALE)} AS n1
  FROM exc e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT {sql_dsum('x * x', EMB_SCALE)} AS nq FROM ex WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= 10
"""




# ---------------------------------------------------------------------
# SemDeDup: semantic dedup via within-cluster cosine pruning
# ---------------------------------------------------------------------
#
# The embedding-space dedup step of public LLM data pipelines
# (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
# corpus embeddings, compute pairwise cosine ONLY within each cluster,
# and keep one representative per near-dup group. Deterministic variant
# of the paper's keep rule: a vector is dropped when a smaller-vec_id
# cluster-mate sits above the threshold (greedy keep-min-id — the paper
# keeps low-centroid-similarity/random, which isn't reproducible
# across engines).
#
# Scale shape: clustering bounds the quadratic term to cluster size —
# at corpus scale k grows with N (the paper runs k=50k on LAION) so
# per-cluster membership stays bounded; clusters are independent, so
# the pair join is one shuffle on cid and embarrassingly parallel
# after it. Norms are computed per-vector BEFORE the self-join.

_SEMDEDUP_COS = 0.30

# Degenerate cells (a near-duplicate-heavy corpus — precisely when you
# run SemDeDup — can collapse into one cluster) make the within-cell
# self-join quadratic. Cells above this size skip pairing (members all
# kept), same policy as the LSH bucket cap (textdata.py): at corpus
# scale k grows with N so honest cells stay ≪ cap; a pathological cell
# degrades to a no-op instead of a quadratic join. Mirrored in the
# oracle SQL, so the gate checks the capped semantics bit-exactly.
_SEMDEDUP_CELL_CAP = 256


# the verdict table is a derived structure like the keep-list chain's
# (cell-bounded pair join + distinct — rebuildable):
# steady-state consumers read the checkpoint instead of re-running the
# within-cell quadratic join per call (guide §2.1)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup verdict: trained cell + keep/drop flag.
    Memoized + checkpointed."""
    def build():
        emb = fan_out_small_scan(
            load_table(spark, sf_dir, "embeddings")
        ).select("vec_id", "embedding")
        # identical computation to argmax over the trained codebook — the
        # assignment is the memoized map-side corpus pass shared with
        # kmeans_cells / ann_ivf_trained_topk / contrastive_triples, so a
        # steady-state session skips the corpus x centroid rescoring
        assign = _trained_assign(spark, sf_dir).select("vec_id", "cid")
        # cell sizes: ≤ k rows BY CONSTRUCTION → aggregate + broadcast join
        # (a count window would sort the whole assignment table instead)
        small_cells = (
            assign.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("_csz"))
            .filter(F.col("_csz") <= _SEMDEDUP_CELL_CAP)
            .select("cid")
        )
        pairable = assign.join(F.broadcast(small_cells), "cid", "left_semi")
        m = pairable.join(emb, "vec_id").withColumn("n1", array_norm2(F.col("embedding"), EMB_SCALE))
        a = m.select(
            F.col("vec_id").alias("vec_a"),
            "cid",
            F.col("embedding").alias("ea"),
            F.col("n1").alias("na"),
        )
        b = m.select(
            F.col("vec_id").alias("vec_b"),
            "cid",
            F.col("embedding").alias("eb"),
            F.col("n1").alias("nb"),
        )
        pairs = a.join(b, ["cid"]).filter(F.col("vec_a") < F.col("vec_b"))
        cos = array_dot(F.col("ea"), F.col("eb"), EMB_SCALE) / F.sqrt(F.col("na") * F.col("nb"))
        dropped = (
            pairs.filter(cos >= F.lit(float(_SEMDEDUP_COS)))
            .select(F.col("vec_b").alias("vec_id"))
            .distinct()
            .withColumn("_dup", F.lit(1))
        )
        return (
            assign.join(dropped, "vec_id", "left")
            .select(
                "vec_id",
                F.col("cid").cast("long").alias("cid"),
                F.col("_dup").isNull().alias("keep"),
            )
            .localCheckpoint()
        )

    return memo("semdedup_verdicts", (spark, sf_dir), build)


_SEMDEDUP_SQL = f"""
WITH {_EX_CTE},
{_lloyd_round_sql("ex", _N_CELLS)},
norms AS (SELECT vec_id, {sql_dsum('x * x', EMB_SCALE)} AS n1 FROM ex GROUP BY vec_id),
pairable AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, count(*) OVER (PARTITION BY cid) AS csz FROM a1) t
  WHERE csz <= {_SEMDEDUP_CELL_CAP}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM pairable a JOIN pairable b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
pd AS (
  SELECT p.vec_a, p.vec_b, {sql_dsum('xa.x * xb.x', EMB_SCALE)} AS dot
  FROM pairs p
  JOIN ex xa ON xa.vec_id = p.vec_a
  JOIN ex xb ON xb.vec_id = p.vec_b AND xb.pos = xa.pos
  GROUP BY p.vec_a, p.vec_b
),
dropped AS (
  SELECT DISTINCT pd.vec_b AS vec_id
  FROM pd JOIN norms na ON na.vec_id = pd.vec_a
          JOIN norms nb ON nb.vec_id = pd.vec_b
  WHERE pd.dot / SQRT(na.n1 * nb.n1) >= CAST({_SEMDEDUP_COS!r} AS DOUBLE)
)
SELECT a1.vec_id, CAST(a1.cid AS BIGINT) AS cid,
       (a1.vec_id NOT IN (SELECT vec_id FROM dropped)) AS keep
FROM a1
"""

# ---------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance top-k
# ---------------------------------------------------------------------
#
# The memory-efficient ANN tier (the FAISS PQ/ADC design, public
# literature: Jegou et al., "Product Quantization for Nearest Neighbor
# Search"): split the 64-dim embedding into _PQ_M subspaces, train a
# tiny per-subspace codebook with the SAME distributed Lloyd machinery
# as the IVF quantizer, and store each vector as _PQ_M small codes. At
# query time the query's dot product with every (subspace, code)
# centroid forms a lookup table of _PQ_M x _PQ_K scalars; a vector's
# approximate score is the SUM of its codes' table entries — no
# original vectors touched during ranking (at 100 TB the codes table is
# ~1/32 the bytes of the raw embeddings). Dot-product PQ (not L2) to
# stay consistent with the IVF path; table entries are re-floored to
# fixed point so the _PQ_M-way sum is order-independent.

_PQ_M, _PQ_K, _PQ_DIM = 4, 8, 16
_PQ_TSCALE = 1e6  # fixed-point scale for the ADC table sum


def _pq_sub_sql(m: int, vec_sql: str = "embedding") -> str:
    return f"slice({vec_sql}, {m * _PQ_DIM + 1}, {_PQ_DIM})"


def _pq_group_best_sql(cents: list, m: int, vec_sql: str = "embedding") -> str:
    """struct(dot, ncid) of subspace ``m``'s winning centroid as SQL
    text (the py4j-cheap literal path — see `exact.sql_array_dot`) — the
    dot runs over the same 1-indexed sub-vector slice, against the
    group's literal centroids (k x dim bounded BY CONSTRUCTION)."""
    sub = _pq_sub_sql(m, vec_sql)
    entries = ", ".join(
        f"named_struct('dot', {sql_array_dot(sub, dlit_array(c), EMB_SCALE)}, "
        f"'ncid', CAST({-int(cid)} AS BIGINT))"
        for g, cid, c in cents
        if g == m
    )
    return f"array_max(array({entries}))"


def _pq_encode_literal(emb: DataFrame, cents: list) -> DataFrame:
    """(vec_id, m, cid, dot) best-code table, ONE map-side pass (no
    subspace self-join, no n x M x K argmax shuffle)."""
    entries = ", ".join(
        f"named_struct('m', CAST({m} AS BIGINT), "
        f"'b', {_pq_group_best_sql(cents, m)})"
        for m in range(_PQ_M)
    )
    return emb.select(
        "vec_id", F.explode(F.expr(f"array({entries})")).alias("p")
    ).select(
        "vec_id",
        F.col("p.m").alias("m"),
        (-F.col("p.b.ncid")).alias("cid"),
        F.col("p.b.dot").alias("dot"),
    )


def _pq_update_collect(emb: DataFrame, cents: list) -> list:
    """One grouped Lloyd update with the assignment fused into the same
    map pass (one corpus scan, one partial-aggregated <= M*K*D-row
    shuffle), collected to the literal list (bounded BY CONSTRUCTION).
    Same fixed-point arithmetic as `kmeans._update_centroids`, applied
    per subspace."""
    per_m = ", ".join(
        f"named_struct('m', CAST({m} AS BIGINT), "
        f"'cid', -({_pq_group_best_sql(cents, m)}.ncid), "
        f"'sub', {_pq_sub_sql(m)})"
        for m in range(_PQ_M)
    )
    ex = emb.select(F.explode(F.expr(f"array({per_m})")).alias("p")).select(
        F.col("p.m").alias("m"),
        F.col("p.cid").alias("cid"),
        F.posexplode(F.col("p.sub")).alias("pos", "x"),
    )
    upd = (
        ex.groupBy("m", "cid", "pos")
        .agg(
            F.sum(fint(F.col("x").cast("double"), EMB_SCALE)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "m",
            "cid",
            "pos",
            (dfinal(F.col("s"), EMB_SCALE) / F.col("n")).alias(
                "c"
            ),
        )
    )
    by: dict = {}
    for r in upd.collect():
        by.setdefault((int(r["m"]), int(r["cid"])), []).append(
            (int(r["pos"]), float(r["c"]))
        )
    return sorted(
        (m, cid, [c for _, c in sorted(v)]) for (m, cid), v in by.items()
    )


def _pq_train_encode(spark: SparkSession, sf_dir: str):
    """All subspace codebooks trained through the literal-codebook path
    (2 bounded collects: the k init vectors + the <= M*K*D updated
    centroid coordinates; every corpus pass map-side), the code table
    encoded in one fused pass, localCheckpoint'ed and memoized so
    pq_codes and ann_pq_topk share one training.
    Returns (cents, codes): the literal list [(m, cid, cent)] and the
    (vec_id, m, cid, dot) frame."""
    def build():
        emb = fan_out_small_scan(
            load_table(spark, sf_dir, "embeddings")
        ).select("vec_id", "embedding")
        rows = sorted(
            (int(r[0]), [float(v) for v in r[1]])
            for r in emb.filter(F.col("vec_id") < _PQ_K).collect()
        )
        init = [
            (m, cid, vec[m * _PQ_DIM : (m + 1) * _PQ_DIM])
            for cid, vec in rows
            for m in range(_PQ_M)
        ]
        cents = _pq_update_collect(emb, init)
        codes = _pq_encode_literal(emb, cents).localCheckpoint()
        return (cents, codes)

    return memo("pq_train_encode", (spark, sf_dir), build)


def _pq_adc_df(spark: SparkSession, q: list, cents: list) -> DataFrame:
    """(m, code, t_fp) ADC lookup table as a tiny literal relation:
    M*K rows BY CONSTRUCTION, each t_fp = floor(dot * TSCALE) over the
    1-row query's sub-vector in driver doubles (`dot_fixed_py` —
    bit-exact twin of scoring the exploded sub-vector table)."""
    import math

    rows = [
        (
            int(m),
            int(cid),
            int(
                math.floor(
                    dot_fixed_py(q[m * _PQ_DIM : (m + 1) * _PQ_DIM], c, EMB_SCALE)
                    * _PQ_TSCALE
                )
            ),
        )
        for m, cid, c in cents
    ]
    return spark.createDataFrame(rows, "m long, code long, t_fp long")


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: every vector's code per subspace (vec_id, m, code,
    dot-with-trained-centroid)."""
    _cents, codes = _pq_train_encode(spark, sf_dir)
    return codes.select(
        "vec_id", "m", F.col("cid").cast("long").alias("code"), "dot"
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ two-stage rank (the production shape): ADC shortlist of
    _PQ_SHORTLIST candidates scored purely from the codes table (the
    scan never touches raw vectors), then exact cosine re-rank of the
    shortlist. Pure-ADC recall@10 on this isotropic corpus is 0.2;
    the re-rank stage recovers the survivors exactly — same
    honest-recall treatment as the LSH path."""
    cents, codes_df = _pq_train_encode(spark, sf_dir)
    table = _pq_adc_df(spark, _query_vec(spark, sf_dir), cents)
    codes = codes_df.select("vec_id", "m", F.col("cid").alias("code"))
    scored = (
        codes.join(F.broadcast(table), ["m", "code"])  # M*K rows: tiny by construction
        .groupBy("vec_id")
        .agg(dfinal(F.sum("t_fp"), _PQ_TSCALE).alias("adc_score"))
    )
    cand = scored.orderBy(F.desc("adc_score"), F.asc("vec_id")).limit(
        _PQ_SHORTLIST
    ).select("vec_id")
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        cand,
        q0=_query_vec0(spark, sf_dir),
    )


_TOP_K_PQ = 10
_PQ_SHORTLIST = 50


def _pq_sql_parts(src: str = "ex") -> str:
    """One Lloyd round per PQ subspace ``m`` over its slice ``ex_{m}``."""
    return ",".join(
        f"""
ex_{m} AS (
  SELECT vec_id, x, pos - {m * _PQ_DIM} AS pos FROM {src}
  WHERE pos > {m * _PQ_DIM} AND pos <= {(m + 1) * _PQ_DIM}
),
{_lloyd_round_sql(f"ex_{m}", _PQ_K, f"_{m}")}"""
        for m in range(_PQ_M)
    )


_PQ_CODES_SQL = f"""
WITH {_EX_CTE},
{_pq_sql_parts()}
{' UNION ALL '.join(
    f"SELECT vec_id, CAST({m} AS BIGINT) AS m, CAST(cid AS BIGINT) AS code, dot FROM a1_{m}"
    for m in range(_PQ_M))}
"""

_PQ_TOPK_SQL = f"""
WITH {_EX_CTE},
{_pq_sql_parts()},
tbl AS ({' UNION ALL '.join(
    f"SELECT CAST({m} AS BIGINT) AS m, cid AS code, "
    f"{sql_fint('dot', _PQ_TSCALE)} AS t_fp FROM cd1_{m} WHERE vec_id = 0"
    for m in range(_PQ_M))}),
codes AS ({' UNION ALL '.join(
    f"SELECT vec_id, CAST({m} AS BIGINT) AS m, cid AS code FROM a1_{m}"
    for m in range(_PQ_M))}),
adc AS (
  SELECT c.vec_id,
         {sql_dfinal('SUM(t.t_fp)', _PQ_TSCALE)} AS adc_score
  FROM codes c JOIN tbl t USING (m, code)
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc_score DESC, vec_id) AS rn
    FROM adc) t
  WHERE rn <= {_PQ_SHORTLIST}
),
exc AS (SELECT e.* FROM ex e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
q0 AS (SELECT pos, x AS y FROM ex WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', EMB_SCALE)} AS n1
  FROM exc e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT n1 AS nq FROM per WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= {_TOP_K_PQ}
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite (the FAISS-style production shape: coarse
    quantizer bounds the search space, product codes score it, exact
    math finishes): the query probes its _N_PROBE best trained cells,
    ADC scores ONLY the vectors assigned to those cells purely from the
    codes table, and the _PQ_SHORTLIST survivors get the exact cosine
    re-rank. Shares the memoized coarse codebook with kmeans_cells/
    ann_ivf_trained_topk and the memoized PQ codebooks with
    pq_codes/ann_pq_topk — at corpus scale the ADC scan reads ~1/32 of
    the embedding bytes and only 1/(cells/probes) of the rows."""
    assign = _trained_assign(spark, sf_dir)
    probe = _trained_query_probe(spark, sf_dir)
    cell_cand = assign.join(F.broadcast(probe), "cid", "left_semi").select("vec_id")

    pcents, codes_df = _pq_train_encode(spark, sf_dir)
    table = _pq_adc_df(spark, _query_vec(spark, sf_dir), pcents)
    # candidate set ∝ corpus/cells — keyed semi-join, no broadcast hint
    codes = codes_df.select("vec_id", "m", F.col("cid").alias("code")).join(
        cell_cand, "vec_id", "left_semi"
    )
    adc = (
        codes.join(F.broadcast(table), ["m", "code"])  # M*K rows: tiny
        .groupBy("vec_id")
        .agg(dfinal(F.sum("t_fp"), _PQ_TSCALE).alias("adc_score"))
    )
    cand = (
        adc.orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
        .select("vec_id")
    )
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        cand,
        q0=_query_vec0(spark, sf_dir),
    )


_IVFPQ_SQL = f"""
WITH {_EX_CTE},
{_lloyd_round_sql("ex", _N_CELLS)},
qprobe AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY dot DESC, cid) AS rn
    FROM cd1 WHERE vec_id = 0) t
  WHERE rn <= {_N_PROBE}
),
ccand AS (SELECT vec_id FROM a1 WHERE cid IN (SELECT cid FROM qprobe)),
{_pq_sql_parts()},
tbl AS ({' UNION ALL '.join(
    f"SELECT CAST({m} AS BIGINT) AS m, cid AS code, "
    f"{sql_fint('dot', _PQ_TSCALE)} AS t_fp FROM cd1_{m} WHERE vec_id = 0"
    for m in range(_PQ_M))}),
codes AS ({' UNION ALL '.join(
    f"SELECT vec_id, CAST({m} AS BIGINT) AS m, cid AS code FROM a1_{m}"
    for m in range(_PQ_M))}),
adc AS (
  SELECT c.vec_id,
         {sql_dfinal('SUM(t.t_fp)', _PQ_TSCALE)} AS adc_score
  FROM codes c JOIN tbl t USING (m, code)
  WHERE c.vec_id IN (SELECT vec_id FROM ccand)
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc_score DESC, vec_id) AS rn
    FROM adc) t
  WHERE rn <= {_PQ_SHORTLIST}
),
exc AS (SELECT e.* FROM ex e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
q0 AS (SELECT pos, x AS y FROM ex WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', EMB_SCALE)} AS n1
  FROM exc e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT {sql_dsum('x * x', EMB_SCALE)} AS nq FROM ex WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= 10
"""


# ---------------------------------------------------------------------
# OPQ-lite: Householder-rotated product quantization (the FAISS OPQ
# preprocessing idea — Ge et al., "Optimized Product Quantization",
# CVPR 2013 — reduced to a deterministic, oracle-checkable rotation).
# The leading principal component v (embstats.pca_leading_component,
# already bit-exact in both engines) is reflected onto e1 by the
# Householder map H = I − 2uuᵀ with u = (v − e1)/‖v − e1‖, applied to
# the leading _OPQ_D coordinates of every vector. That concentrates
# the top-variance direction entirely inside PQ subspace 0 instead of
# letting it straddle the subspace boundary — the whole point of OPQ's
# rotation, in its cheapest closed form. The rotated vectors then ride
# the EXISTING grouped-Lloyd PQ machinery unchanged; the final re-rank
# is exact cosine over the ORIGINAL vectors (rotation preserves the
# true similarity, so both PQ variants answer the same query and their
# shortlist recalls are directly comparable — see opq_recall_audit).
#
# Exactness: u, the per-vector projection u·x, and each rotated
# coordinate x_i − 2·u_i·(u·x) are scalar IEEE chains written as
# IDENTICAL expression text in Spark and DuckDB (the
# pca_leading_component pattern), so the rotated doubles — and
# therefore every fixed-point floor downstream — agree bit-for-bit.
#
# Scale: the rotation is one broadcast of a 1-row vector + map-side
# column math (zero shuffle; same cost class as jl_projection); the
# training/encode cost is identical to plain PQ.
# ---------------------------------------------------------------------

_OPQ_D = 6  # rotation acts on the PCA'd leading block (embstats._COV_DIMS)


def _opq_nrm_text() -> str:
    terms = " + ".join(
        "(v_1 - 1.0) * (v_1 - 1.0)" if i == 1 else f"v_{i} * v_{i}"
        for i in range(1, _OPQ_D + 1)
    )
    return f"sqrt({terms})"


def _opq_u_text(i: int) -> str:
    num = "v_1 - 1.0" if i == 1 else f"v_{i}"
    return f"CASE WHEN nrm = 0.0 THEN 0.0 ELSE ({num}) / nrm END"


_OPQ_UD_TEXT = " + ".join(f"u_{i} * x_{i}" for i in range(1, _OPQ_D + 1))


def _opq_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding): double-array embeddings with the leading
    _OPQ_D coordinates Householder-reflected so the principal
    direction lands on axis 1. Memoized + checkpointed — the OPQ
    training, encode and ADC table all ride one rotation pass."""
    from trx_spark.queries.embstats import pca_leading_component

    def build():
        v = pca_leading_component(spark, sf_dir).select(
            *[F.col(f"v_{i}") for i in range(1, _OPQ_D + 1)]
        )
        emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "embedding"
        )
        j = emb.join(F.broadcast(v)).withColumn("nrm", F.expr(_opq_nrm_text()))
        for i in range(1, _OPQ_D + 1):
            j = j.withColumn(f"u_{i}", F.expr(_opq_u_text(i)))
            j = j.withColumn(
                f"x_{i}", F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)")
            )
        j = j.withColumn("ud", F.expr(_OPQ_UD_TEXT))
        rot_head = F.array(
            *[
                F.expr(f"x_{i} - 2.0 * u_{i} * ud").alias(f"y_{i}")
                for i in range(1, _OPQ_D + 1)
            ]
        )
        tail = F.expr(
            f"transform(slice(embedding, {_OPQ_D + 1}, size(embedding) - {_OPQ_D}), "
            f"t -> CAST(t AS DOUBLE))"
        )
        return j.select(
            "vec_id", F.concat(rot_head, tail).alias("embedding")
        ).localCheckpoint()

    return memo("opq_rotation", (spark, sf_dir), build)


def _opq_train_encode(spark: SparkSession, sf_dir: str):
    """OPQ twin of _pq_train_encode over the rotated vectors (same
    literal-codebook path: bounded collects of init rows + updated
    centroids, map-side scoring/encode)."""
    def build():
        rot = _opq_rotated(spark, sf_dir)
        rows = sorted(
            (int(r[0]), [float(v) for v in r[1]])
            for r in rot.filter(F.col("vec_id") < _PQ_K).collect()
        )
        init = [
            (m, cid, vec[m * _PQ_DIM : (m + 1) * _PQ_DIM])
            for cid, vec in rows
            for m in range(_PQ_M)
        ]
        cents = _pq_update_collect(rot, init)
        return cents, _pq_encode_literal(rot, cents).localCheckpoint()

    return memo("opq_train_encode", (spark, sf_dir), build)


def _opq_query_vec(spark: SparkSession, sf_dir: str) -> list:
    """The ROTATED query vector (vec_id 0) collected once per session
    — ONE bounded row off the rotation checkpoint."""
    def build():
        row = (
            _opq_rotated(spark, sf_dir)
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()
        )
        return [float(v) for v in row[0][0]]

    return memo("opq_query_vec", (spark, sf_dir), build)


def ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ two-stage rank: ADC shortlist from the ROTATED codes table
    (same _PQ_SHORTLIST budget as ann_pq_topk), exact cosine re-rank of
    the shortlist over the original vectors — directly comparable with
    the unrotated PQ path, which is exactly what opq_recall_audit
    does."""
    cents, codes_df = _opq_train_encode(spark, sf_dir)
    table = _pq_adc_df(spark, _opq_query_vec(spark, sf_dir), cents)
    codes = codes_df.select("vec_id", "m", F.col("cid").alias("code"))
    scored = (
        codes.join(F.broadcast(table), ["m", "code"])
        .groupBy("vec_id")
        .agg(dfinal(F.sum("t_fp"), _PQ_TSCALE).alias("adc_score"))
    )
    cand = (
        scored.orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
        .select("vec_id")
    )
    return _exact_topk_within(
        load_table(spark, sf_dir, "embeddings"),
        cand,
        q0=_query_vec0(spark, sf_dir),
    )


def _opq_rot_ctes() -> str:
    """The rotation as oracle CTEs: pca → u (1 row) → per-vector
    rotated leading coordinates → exr (the rotated (vec_id, pos, x)
    stream the PQ CTEs consume via src='exr')."""
    from trx_spark.queries.embstats import _pca_sql

    xsel = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x_{i}" for i in range(1, _OPQ_D + 1)
    )
    usel = ", ".join(f"{_opq_u_text(i)} AS u_{i}" for i in range(1, _OPQ_D + 1))
    ysel = ", ".join(
        f"x_{i} - 2.0 * u_{i} * ud AS y_{i}" for i in range(1, _OPQ_D + 1)
    )
    ucols = ", ".join(f"u_{i}" for i in range(1, _OPQ_D + 1))
    xcols = ", ".join(f"x_{i}" for i in range(1, _OPQ_D + 1))
    case = " ".join(
        f"WHEN {i} THEN r.y_{i}" for i in range(1, _OPQ_D + 1)
    )
    return f"""
pca AS (SELECT * FROM ({_pca_sql()}) pp),
uu AS (SELECT {usel} FROM (SELECT *, {_opq_nrm_text()} AS nrm FROM pca) t),
xw AS (SELECT vec_id, {xsel} FROM embeddings),
rot AS (
  SELECT vec_id, {ysel} FROM (
    SELECT vec_id, {xcols}, {ucols}, {_OPQ_UD_TEXT} AS ud FROM xw, uu) t
),
exr AS (
  SELECT e.vec_id, e.pos,
         CASE e.pos {case} ELSE e.x END AS x
  FROM ex e JOIN rot r USING (vec_id)
)"""


_OPQ_TOPK_SQL = f"""
WITH {_EX_CTE},
{_opq_rot_ctes()},
{_pq_sql_parts(src="exr")},
tbl AS ({' UNION ALL '.join(
    f"SELECT CAST({m} AS BIGINT) AS m, cid AS code, "
    f"{sql_fint('dot', _PQ_TSCALE)} AS t_fp FROM cd1_{m} WHERE vec_id = 0"
    for m in range(_PQ_M))}),
codes AS ({' UNION ALL '.join(
    f"SELECT vec_id, CAST({m} AS BIGINT) AS m, cid AS code FROM a1_{m}"
    for m in range(_PQ_M))}),
adc AS (
  SELECT c.vec_id,
         {sql_dfinal('SUM(t.t_fp)', _PQ_TSCALE)} AS adc_score
  FROM codes c JOIN tbl t USING (m, code)
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc_score DESC, vec_id) AS rn
    FROM adc) t
  WHERE rn <= {_PQ_SHORTLIST}
),
exc AS (SELECT e.* FROM ex e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
q0 AS (SELECT pos, x AS y FROM ex WHERE vec_id = 0),
per AS (
  SELECT e.vec_id,
    {sql_dsum('e.x * q.y', EMB_SCALE)} AS dot,
    {sql_dsum('e.x * e.x', EMB_SCALE)} AS n1
  FROM exc e JOIN q0 q USING (pos) GROUP BY e.vec_id
),
nq AS (SELECT n1 AS nq FROM per WHERE vec_id = 0),
scored AS (SELECT vec_id, dot / SQRT(n1 * nq) AS cos_sim FROM per, nq
          WHERE dot / SQRT(n1 * nq) IS NOT NULL)
SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored) z
WHERE rank <= {_TOP_K_PQ}
"""


def opq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per exact-top-k row (brute-force cosine truth): did the plain-PQ
    and the OPQ shortlists (same _PQ_SHORTLIST budget) surface it? The
    measured-recall table for the quantized ANN family — the rotation
    earns its place only if in_opq_topk covers at least what
    in_pq_topk does (pinned by test at the gate SFs)."""
    from trx_spark.queries.textdata import ann_cosine_topk

    truth = ann_cosine_topk(spark, sf_dir)
    pq = ann_pq_topk(spark, sf_dir).select(
        "vec_id", F.lit(True).alias("in_pq_topk")
    )
    opq = ann_opq_topk(spark, sf_dir).select(
        "vec_id", F.lit(True).alias("in_opq_topk")
    )
    return (
        truth.join(pq, "vec_id", "left")
        .join(opq, "vec_id", "left")
        .select(
            "rank",
            "vec_id",
            "cos_sim",
            F.coalesce(F.col("in_pq_topk"), F.lit(False)).alias("in_pq_topk"),
            F.coalesce(F.col("in_opq_topk"), F.lit(False)).alias("in_opq_topk"),
        )
    )


def _opq_recall_sql() -> str:
    from trx_spark.queries.textdata import _ANN_SQL

    return f"""
WITH truth AS (SELECT * FROM ({_ANN_SQL}) a),
p AS (SELECT vec_id FROM ({_PQ_TOPK_SQL}) b),
o AS (SELECT vec_id FROM ({_OPQ_TOPK_SQL}) c)
SELECT t.rank, t.vec_id, t.cos_sim,
  (p.vec_id IS NOT NULL) AS in_pq_topk,
  (o.vec_id IS NOT NULL) AS in_opq_topk
FROM truth t
LEFT JOIN p ON p.vec_id = t.vec_id
LEFT JOIN o ON o.vec_id = t.vec_id
"""


# ---------------------------------------------------------------------
# k-NN graph (bounded, LSH-bucket-blocked)
# ---------------------------------------------------------------------

_KNN_K = 3


# the edge table is consumed by knn_graph itself AND knn_pagerank —
# memoize the localCheckpoint like the LSH bucket table, so the bucket
# self-join + rank window runs once per session
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed k-nearest-neighbor graph over the embedding corpus —
    the backbone structure for graph-based dedup clustering, label
    propagation, and diversity analysis over training data.

    Candidates are restricted to the (memoized) 8-plane LSH bucket, so
    edge generation is an equi-join on bucket — never all-pairs — with
    the same pre-join bucket-size cap as the MinHash banding
    (invariant 6: a degenerate bucket degrades to a logged no-op, not a
    quadratic join). Per-vector norms are computed BEFORE the self-join
    and each candidate edge folds one fixed-point dot product. The
    per-source top-k is a row_number window partitioned by the source
    vector — thousands of small partitions, no global sort.

    Output: (vec_id, nbr_id, cos_sim, knn_rank), ≤ _KNN_K rows per
    vec_id."""
    def build():
        emb = fan_out_small_scan(
            load_table(spark, sf_dir, "embeddings")
        ).select("vec_id", "embedding")
        b = (
            ann_lsh_buckets(spark, sf_dir)
            .join(emb, "vec_id")
            .withColumn("n1", array_norm2(F.col("embedding"), EMB_SCALE))
        )
        w = Window.partitionBy("bucket")
        capped = (
            b.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= _LSH_BUCKET_CAP)
            .drop("_bsz")
        )
        src = capped.select(
            F.col("vec_id").alias("src_id"),
            F.col("bucket"),
            F.col("embedding").alias("ea"),
            F.col("n1").alias("na"),
        )
        nbr = capped.select(
            F.col("vec_id").alias("nbr_id"),
            F.col("bucket"),
            F.col("embedding").alias("eb"),
            F.col("n1").alias("nb"),
        )
        pairs = src.join(nbr, ["bucket"]).filter(F.col("src_id") != F.col("nbr_id"))
        cos = array_dot(F.col("ea"), F.col("eb"), EMB_SCALE) / F.sqrt(F.col("na") * F.col("nb"))
        wk = Window.partitionBy("src_id").orderBy(F.desc("cos_sim"), F.asc("nbr_id"))
        out = (
            pairs.withColumn("cos_sim", cos)
            .filter(F.col("cos_sim").isNotNull())
            .withColumn("knn_rank", F.row_number().over(wk))
            .filter(F.col("knn_rank") <= _KNN_K)
            .select(
                F.col("src_id").alias("vec_id"),
                "nbr_id",
                "cos_sim",
                F.col("knn_rank").cast("int").alias("knn_rank"),
            )
        )
        return out.localCheckpoint()

    return memo("knn_edges", (spark, sf_dir), build)


_KNN_SQL = f"""
WITH {_EX_CTE},
{_BUCKETS_CTE},
norms AS (
  SELECT vec_id, {sql_dsum('x * x', EMB_SCALE)} AS n1 FROM ex GROUP BY vec_id
),
bsz AS (SELECT bucket, count(*) AS c FROM buckets GROUP BY bucket),
capped AS (
  SELECT b.vec_id, b.bucket FROM buckets b JOIN bsz USING (bucket)
  WHERE bsz.c <= {_LSH_BUCKET_CAP}
),
pairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
pd AS (
  SELECT p.src_id, p.nbr_id, {sql_dsum('xa.x * xb.x', EMB_SCALE)} AS dot
  FROM pairs p
  JOIN ex xa ON xa.vec_id = p.src_id
  JOIN ex xb ON xb.vec_id = p.nbr_id AND xb.pos = xa.pos
  GROUP BY p.src_id, p.nbr_id
),
scored AS (
  SELECT pd.src_id, pd.nbr_id, pd.dot / SQRT(na.n1 * nb.n1) AS cos_sim
  FROM pd JOIN norms na ON na.vec_id = pd.src_id
          JOIN norms nb ON nb.vec_id = pd.nbr_id
  WHERE pd.dot / SQRT(na.n1 * nb.n1) IS NOT NULL
)
SELECT src_id AS vec_id, nbr_id, cos_sim, CAST(knn_rank AS INTEGER) AS knn_rank
FROM (
  SELECT src_id, nbr_id, cos_sim,
         row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, nbr_id ASC)
           AS knn_rank
  FROM scored) z
WHERE knn_rank <= {_KNN_K}
"""


# ---------------------------------------------------------------------
# Cluster-balanced (diversity) sampling over the trained codebook
# ---------------------------------------------------------------------

_CBS_PER_CELL = 5
_CBS_A, _CBS_B = 69621, 30103  # deterministic per-cell shuffling hash


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling: an equal number of vectors from every
    trained k-means cell (uniform-per-cluster coreset — the standard
    counter to majority-mode collapse when subsampling web-scale
    embeddings; cf. cluster-balanced selection in SemDeDup-style
    curation pipelines).

    Rides the memoized trained codebook (one Lloyd training per
    session, shared with kmeans_cells / ann_ivf_trained_topk /
    semantic_dedup); its own work is one row_number window PARTITIONED
    BY CELL over an affine-hash order — per-cell reservoirs, no global
    sort, reproducible under retries (rank is a pure function of
    vec_id).

    Output: (cid, vec_id, pick_rank), ≤ _CBS_PER_CELL rows per cell."""
    assign = _trained_assign(spark, sf_dir).select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )
    rk = (F.lit(_CBS_A) * F.col("vec_id") + F.lit(_CBS_B)) % F.lit(2147483647)
    w = Window.partitionBy("cid").orderBy(rk.asc(), F.col("vec_id").asc())
    return (
        assign.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= _CBS_PER_CELL)
        .select("cid", "vec_id", F.col("pick_rank").cast("int").alias("pick_rank"))
    )


_CBS_SQL = f"""
WITH assign AS ({_KMEANS_SQL})
SELECT cid, vec_id, CAST(pick_rank AS INTEGER) AS pick_rank
FROM (
  SELECT cid, vec_id,
         row_number() OVER (
           PARTITION BY cid
           ORDER BY ({_CBS_A} * vec_id + {_CBS_B}) % 2147483647 ASC, vec_id ASC)
           AS pick_rank
  FROM assign) z
WHERE pick_rank <= {_CBS_PER_CELL}
"""


# ---------------------------------------------------------------------
# Contrastive training triples over the trained codebook
# ---------------------------------------------------------------------

_CT_A, _CT_B = 48947, 55661  # negative-cell pick hash


def contrastive_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triples for contrastive training:
    the positive is another member of the anchor's trained k-means cell
    (cluster-positive mining — cheap positives without labels), the
    negative is the representative of a deterministically-picked OTHER
    cell (cluster-negative). Rides the memoized trained codebook; all
    picks are pure hash functions of vec_id → reproducible under
    retries, no sampling state.

    Plan: the positive is a lead-with-wraparound window PARTITIONED BY
    CELL over the affine-hash order (per-cell reservoirs); the
    negatives come from a 1-ROW broadcast holding the sorted
    representative arrays of the NON-EMPTY cells, indexed modularly
    while skipping the anchor's own cell — so a trained codebook with
    empty cells (an initial centroid capturing nothing) still yields a
    negative for every anchor, never a silent drop. The only dropped
    anchors are the two documented degeneracies: singleton cells (no
    positive exists) and a corpus collapsed into one single non-empty
    cell (no negative exists anywhere).

    Output: (anchor_id, positive_id, negative_id, cid, neg_cid)."""
    assign = _trained_assign(spark, sf_dir).select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )
    rk = (F.lit(_CBS_A) * F.col("vec_id") + F.lit(_CBS_B)) % F.lit(2147483647)
    w = Window.partitionBy("cid").orderBy(rk.asc(), F.col("vec_id").asc())
    ordered = assign.withColumn("_nxt", F.lead("vec_id").over(w)).withColumn(
        "_first", F.first("vec_id").over(w)
    )
    pos = F.coalesce(F.col("_nxt"), F.col("_first"))
    reps = (
        assign.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("cid").alias("rcid"), F.col("vec_id").alias("rvid"))
    )
    # ≤ _N_CELLS rows folded into ONE row of parallel sorted arrays —
    # the documented 1-row-build-side broadcast pattern
    rep_row = reps.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rcid", "rvid"))), lambda s: s.rcid
        ).alias("cids"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("rcid", "rvid"))), lambda s: s.rvid
        ).alias("negs"),
        F.count(F.lit(1)).alias("m"),
    )
    own_idx = F.array_position(F.col("cids"), F.col("cid"))  # 1-based
    j = ((F.lit(_CT_A) * F.col("vec_id") + F.lit(_CT_B)) % F.lit(2147483647)) % (
        F.col("m") - 1
    )
    neg_pos = F.when(j + 1 >= own_idx, j + 2).otherwise(j + 1)
    return (
        ordered.withColumn("positive_id", pos)
        .filter(F.col("positive_id") != F.col("vec_id"))  # singleton cells drop
        .crossJoin(F.broadcast(rep_row))
        .filter(F.col("m") > 1)
        .withColumn("_np", neg_pos.cast("int"))
        .select(
            F.col("vec_id").alias("anchor_id"),
            "positive_id",
            F.element_at(F.col("negs"), F.col("_np")).alias("negative_id"),
            "cid",
            F.element_at(F.col("cids"), F.col("_np")).alias("neg_cid"),
        )
    )


_CT_SQL = f"""
WITH assign AS ({_KMEANS_SQL}),
ordered AS (
  SELECT vec_id, cid,
         lead(vec_id) OVER w AS _nxt,
         first_value(vec_id) OVER w AS _first,
         row_number() OVER w AS _rn
  FROM assign
  WINDOW w AS (PARTITION BY cid
               ORDER BY ({_CBS_A} * vec_id + {_CBS_B}) % 2147483647 ASC, vec_id ASC)
),
reps AS (
  SELECT cid AS rcid, vec_id AS rvid FROM ordered WHERE _rn = 1
),
rep_row AS (
  SELECT list(rcid ORDER BY rcid) AS cids,
         list(rvid ORDER BY rcid) AS negs,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM reps
),
anchors AS (
  SELECT o.vec_id, o.cid,
         COALESCE(o._nxt, o._first) AS positive_id,
         CAST(list_position(r.cids, o.cid) AS BIGINT) AS own_idx,
         (({_CT_A} * o.vec_id + {_CT_B}) % 2147483647) % (r.m - 1) AS j,
         r.cids, r.negs, r.m
  FROM ordered o CROSS JOIN rep_row r
  WHERE r.m > 1
)
SELECT vec_id AS anchor_id, positive_id,
       negs[CAST(CASE WHEN j + 1 >= own_idx THEN j + 2 ELSE j + 1 END AS INTEGER)]
         AS negative_id,
       cid,
       cids[CAST(CASE WHEN j + 1 >= own_idx THEN j + 2 ELSE j + 1 END AS INTEGER)]
         AS neg_cid
FROM anchors
WHERE positive_id <> vec_id
"""


# ---------------------------------------------------------------------
# PageRank centrality over the k-NN graph
# ---------------------------------------------------------------------

_PR_ITERS = 3
_PR_DAMP = 0.85
_PR_BASE = 1.0 - _PR_DAMP  # 0.15
_PR_SCALE = 1e12  # per-key sums ≤ bucket_cap·1e12 — bounded by construction


def knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the directed k-NN graph: centrality-based
    canonical selection (the most "central" member of a near-duplicate
    neighborhood is the natural keeper; peripheral members are the
    duplicates to drop).

    Fixed-iteration (3 rounds, d=0.85, uniform init, dangling mass
    dropped — the lost-mass variant) so the oracle unrolls the same
    rounds as CTEs. The per-iteration transfer sums are fixed-point
    BIGINTs; each target's incoming sum carries at most
    bucket_cap−1 terms (in-edges only arrive from the same capped LSH
    bucket), so the accumulator is bounded BY CONSTRUCTION at any
    corpus size.

    Scale shape: the same iterative keyed-equi-join discipline as
    ``dedup_clusters`` (operators/graph.py) — per round one
    edge⋈rank join and one groupBy on the target id, edges
    localCheckpoint'ed once up front, lineage kept flat, nothing
    driver-side.

    Output: (vec_id, out_degree, pagerank)."""
    # the memoized knn_graph checkpoint (shared with the knn_graph
    # query itself) — the bucket self-join runs once per session
    edges = knn_graph(spark, sf_dir).select("vec_id", "nbr_id")
    nodes = (
        edges.select("vec_id")
        .unionByName(edges.select(F.col("nbr_id").alias("vec_id")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = edges.groupBy("vec_id").agg(F.count(F.lit(1)).alias("out_degree"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("nn"))
    base = F.lit(_PR_BASE) / F.col("nn").cast("double")
    pr = nodes.crossJoin(F.broadcast(n_nodes)).withColumn(
        "pr", F.lit(1.0) / F.col("nn").cast("double")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(pr.select("vec_id", "pr"), "vec_id")
            .join(outdeg, "vec_id")
            .select(
                F.col("nbr_id").alias("vec_id"),
                F.floor(
                    (F.col("pr") / F.col("out_degree").cast("double"))
                    * F.lit(_PR_SCALE)
                )
                .cast("long")
                .alias("t"),
            )
            .groupBy("vec_id")
            .agg(F.sum("t").alias("s"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(n_nodes))
            .join(contrib, "vec_id", "left")
            .withColumn(
                "pr",
                base
                + F.lit(_PR_DAMP)
                * (
                    F.coalesce(F.col("s"), F.lit(0).cast("long")).cast("double")
                    / F.lit(_PR_SCALE)
                ),
            )
            .select("vec_id", "nn", "pr")
            .localCheckpoint()
        )
    return (
        pr.join(outdeg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("out_degree"), F.lit(0).cast("long")).alias("out_degree"),
            F.col("pr").alias("pagerank"),
        )
    )


def _pr_round_sql(prev: str, out: str) -> str:
    return f"""
{out}_c AS (
  SELECT e.nbr_id AS vec_id,
         CAST(SUM(CAST(FLOOR((p.pr / CAST(o.out_degree AS DOUBLE)) * {_PR_SCALE!r}) AS BIGINT)) AS BIGINT) AS s
  FROM knn_edges e
  JOIN {prev} p ON p.vec_id = e.vec_id
  JOIN outdeg o ON o.vec_id = e.vec_id
  GROUP BY e.nbr_id
),
{out} AS (
  SELECT n.vec_id,
         CAST({dlit(_PR_BASE)} AS DOUBLE) / CAST(nn.nn AS DOUBLE)
           + CAST({dlit(_PR_DAMP)} AS DOUBLE)
             * (CAST(COALESCE(c.s, CAST(0 AS BIGINT)) AS DOUBLE) / {_PR_SCALE!r}) AS pr
  FROM nodes n CROSS JOIN n_nodes nn
  LEFT JOIN {out}_c c ON c.vec_id = n.vec_id
)"""


_PR_SQL = (
    f"""
WITH knn AS ({_KNN_SQL}),
knn_edges AS (SELECT vec_id, nbr_id FROM knn),
nodes AS (
  SELECT DISTINCT vec_id FROM (
    SELECT vec_id FROM knn_edges UNION ALL SELECT nbr_id AS vec_id FROM knn_edges) u
),
outdeg AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS out_degree FROM knn_edges GROUP BY vec_id
),
n_nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nodes),
pr0 AS (
  SELECT n.vec_id, CAST(1.0 AS DOUBLE) / CAST(nn.nn AS DOUBLE) AS pr
  FROM nodes n CROSS JOIN n_nodes nn
),"""
    + ",".join(_pr_round_sql(f"pr{i}", f"pr{i + 1}") for i in range(_PR_ITERS))
    + f"""
SELECT p.vec_id,
       COALESCE(o.out_degree, CAST(0 AS BIGINT)) AS out_degree,
       p.pr AS pagerank
FROM pr{_PR_ITERS} p LEFT JOIN outdeg o ON o.vec_id = p.vec_id
"""
)




def knn_reciprocal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN near-dup pairs: (vec_a < vec_b) kept only when each
    is in the OTHER's k-nearest list — the reciprocal-nearest-neighbor
    criterion, a much higher-precision near-dup signal than one-way
    kNN (standard in RNN-based dedup/cluster seeding).

    Rides the memoized knn_graph edge table: one self-equi-join on the
    reversed key pair, no new shuffles of the embeddings. Output:
    (vec_a, vec_b, cos_sim) with cos_sim from the a→b direction."""
    e = knn_graph(spark, sf_dir).select("vec_id", "nbr_id", "cos_sim")
    a = e.alias("a")
    b = e.select(
        F.col("vec_id").alias("b_src"), F.col("nbr_id").alias("b_dst")
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.b_dst"))
            & (F.col("a.nbr_id") == F.col("b.b_src")),
        )
        .filter(F.col("a.vec_id") < F.col("a.nbr_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("a.nbr_id").alias("vec_b"),
            F.col("a.cos_sim").alias("cos_sim"),
        )
    )


_RNN_SQL = f"""
WITH knn AS ({_KNN_SQL})
SELECT a.vec_id AS vec_a, a.nbr_id AS vec_b, a.cos_sim
FROM knn a JOIN knn b ON a.vec_id = b.nbr_id AND a.nbr_id = b.vec_id
WHERE a.vec_id < a.nbr_id
"""




# ---------------------------------------------------------------------
# MMR diverse top-k (Carbonell & Goldstein 1998): greedy selection that
# trades query relevance against redundancy with the already-selected
# set — the standard diversity-aware example/demonstration selector in
# training-data curation. All similarity math is the fixed-point dot
# family, so the whole greedy loop unrolls into oracle CTEs.
# ---------------------------------------------------------------------

_MMR_K = 8
# λ = 0.5 exactly (written CAST(0.5 AS DOUBLE) in the oracle)
_MMR_L = 0.5


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, vec_id, rel, mmr): the _MMR_K-element diverse result set
    for query vector 0. Round r picks argmax over the remaining
    candidates of λ·rel − (1−λ)·max_{s∈selected} cos(v, s); round 1 is
    pure relevance. Per round: one broadcast join against the ≤k-row
    selected set, one TakeOrderedAndProject(1) — the candidate table
    never re-shuffles (same iterative discipline as the Lloyd/BPE/GD
    trainers)."""
    emb = fan_out_small_scan(
        load_table(spark, sf_dir, "embeddings")
    ).select("vec_id", "embedding").withColumn("n1", array_norm2(F.col("embedding"), EMB_SCALE))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("n1").alias("qn")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "n1",
            (array_dot(F.col("embedding"), F.col("qe"), EMB_SCALE) / F.sqrt(F.col("n1") * F.col("qn"))).alias("rel"),
        )
        .localCheckpoint()
    )
    lam = F.lit(_MMR_L)
    picks = []
    remaining = cand
    # Incremental running-max fold (the kcenter_coreset discipline,
    # applied to MMR's max-similarity): max over the selected set is
    # foldable — maxsim_r(v) = greatest(maxsim_{r-1}(v), cos(v, newest
    # pick)) — so each round joins ONLY the newest 1-row pick
    # (broadcast) instead of re-scoring every candidate against the
    # full selected set through a corpus-wide groupBy shuffle.  IEEE
    # max over the identical per-pair doubles is order-independent
    # (and Spark's greatest/max agg share NaN-greatest semantics), so
    # the picks are bit-identical to the re-scoring formulation and
    # the unrolled SQL oracle.  Per-round work drops from
    # O(r·n·d) + 1 shuffle to O(n·d) map-side.
    for rank in range(1, _MMR_K + 1):
        if rank == 1:
            scored = remaining.withColumn("mmr", lam * F.col("rel"))
        else:
            scored = remaining.withColumn(
                "mmr", lam * F.col("rel") - (F.lit(1.0) - lam) * F.col("maxsim")
            )
        pick = (
            scored.orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .localCheckpoint()
        )
        picks.append(
            pick.select(
                F.lit(rank).alias("rank"), "vec_id", "rel", F.col("mmr")
            )
        )
        sim_new = (
            array_dot(F.col("c.embedding"), F.col("s.embedding"), EMB_SCALE)
            / F.sqrt(F.col("c.n1") * F.col("s.n1"))
        )
        fold = (
            sim_new
            if rank == 1
            else F.greatest(F.col("c.maxsim"), sim_new)
        )
        if rank == _MMR_K:
            break  # the last round's fold would never be read
        remaining = (
            remaining.join(
                F.broadcast(pick.select("vec_id")), "vec_id", "left_anti"
            )
            .alias("c")
            .join(
                F.broadcast(
                    pick.select("vec_id", "embedding", "n1").alias("s")
                ),
                F.lit(True),
            )
            .select(
                F.col("c.vec_id").alias("vec_id"),
                F.col("c.embedding").alias("embedding"),
                F.col("c.n1").alias("n1"),
                F.col("c.rel").alias("rel"),
                fold.alias("maxsim"),
            )
            # materialize the folded state per round: without this the
            # round-r TakeOrdered re-executes every prior round's
            # anti-join + broadcast fold from the cand checkpoint
            # (O(K²) broadcast builds across the loop — the measured
            # 70-job plan); with it each round is one narrow pass
            .localCheckpoint()
        )
    out = picks[0]
    for pk in picks[1:]:
        out = out.unionByName(pk)
    return out


def _mmr_sql() -> str:
    lam = "CAST(0.5 AS DOUBLE)"
    parts = [f"""
rel0 AS MATERIALIZED (
  SELECT a.vec_id, {sql_dsum('a.x * q.x', EMB_SCALE)} AS dot
  FROM ex a JOIN ex q ON q.vec_id = 0 AND q.pos = a.pos
  WHERE a.vec_id <> 0 GROUP BY a.vec_id
),
relc AS MATERIALIZED (
  SELECT r.vec_id, r.dot / SQRT(n.n1 * nq.n1) AS rel
  FROM rel0 r JOIN norms n USING (vec_id),
       (SELECT n1 FROM norms WHERE vec_id = 0) nq
),
s1 AS MATERIALIZED (SELECT vec_id, rel, {lam} * rel AS mmr FROM relc
       ORDER BY mmr DESC, vec_id LIMIT 1),
sel1 AS MATERIALIZED (SELECT vec_id FROM s1)"""]
    for i in range(2, _MMR_K + 1):
        prev = i - 1
        parts.append(f"""
p{i} AS MATERIALIZED (
  SELECT a.vec_id, s.vec_id AS sid, {sql_dsum('a.x * b.x', EMB_SCALE)} AS dot
  FROM ex a JOIN sel{prev} s ON TRUE JOIN ex b ON b.vec_id = s.vec_id AND b.pos = a.pos
  WHERE a.vec_id <> 0 AND a.vec_id NOT IN (SELECT vec_id FROM sel{prev})
  GROUP BY a.vec_id, s.vec_id
),
m{i} AS MATERIALIZED (
  SELECT p.vec_id, MAX(p.dot / SQRT(n.n1 * ns.n1)) AS maxsim
  FROM p{i} p JOIN norms n ON n.vec_id = p.vec_id
            JOIN norms ns ON ns.vec_id = p.sid
  GROUP BY p.vec_id
),
s{i} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, {lam} * c.rel - (CAST(1.0 AS DOUBLE) - {lam}) * m.maxsim AS mmr
  FROM relc c JOIN m{i} m USING (vec_id)
  ORDER BY mmr DESC, vec_id LIMIT 1
),
sel{i} AS MATERIALIZED (SELECT vec_id FROM sel{prev} UNION ALL SELECT vec_id FROM s{i})""")
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, vec_id, rel, mmr FROM s{i}" for i in range(1, _MMR_K + 1)
    )
    return (
        "WITH " + _EX_CTE.replace("ex AS (", "ex AS MATERIALIZED (", 1) + """,
norms AS MATERIALIZED (
  SELECT vec_id, """ + sql_dsum("x * x", EMB_SCALE) + """ AS n1 FROM ex GROUP BY vec_id
),""" + ",".join(parts) + "\n" + union
    )


# ---------------------------------------------------------------------
# k-center greedy coreset (Gonzalez 1985 farthest-point traversal; the
# coreset selector of Sener & Savarese, "Active Learning for CNNs: A
# Core-Set Approach", ICLR 2018) — the standard geometric data-pruning
# selector: each round adds the point FARTHEST from the selected set,
# giving a 2-approximation of the k-center cover. Distances are
# squared Euclidean from the fixed-point dot family
# (d² = |a|² + |c|² − 2·a·c), so the whole greedy loop unrolls into
# oracle CTEs exactly like MMR.
# ---------------------------------------------------------------------

_KC_K = 8


def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, vec_id, min_dist2): the _KC_K-point farthest-point
    traversal seeded at vec_id 0; min_dist2 is the point's distance²
    to the selected set at pick time (NULL for the seed) — the
    coverage-radius trace that makes the coreset auditable.

    Per round: a running-minimum FOLD — each candidate carries its
    min_dist2 to the selected-so-far set, and the round joins ONLY the
    newest pick (1-row broadcast) to fold ``least(min_dist2, d2_new)``
    before the next TakeOrderedAndProject(1).  No per-round k-row
    fan-out and, crucially, NO corpus-scale groupBy shuffle: the fold
    is map-side narrow work, so a round is one scan pipeline of 1-row
    broadcast joins (the r9-verdict incremental-min improvement over
    re-scoring against the full selected set).  ``least`` of chained
    per-pair d² values equals the oracle's MIN over the selected set
    bit-for-bit (IEEE min is order-independent), so the unrolled SQL
    twin is unchanged."""
    emb = (
        fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
        .withColumn("n1", array_norm2(F.col("embedding"), EMB_SCALE))
        .localCheckpoint()
    )
    seed = emb.filter(F.col("vec_id") == 0)
    picks = [
        seed.select(
            F.lit(1).alias("rank"),
            "vec_id",
            F.lit(None).cast("double").alias("min_dist2"),
        )
    ]
    d2 = (
        F.col("c.n1")
        + F.col("s.n1")
        - F.lit(2.0) * array_dot(F.col("c.embedding"), F.col("s.embedding"), EMB_SCALE)
    )
    def pick_side(df):
        # the 1-row build side; qualified as "s" so d2's s.* refs bind
        return df.select("vec_id", "embedding", "n1").alias("s")
    remaining = (
        emb.filter(F.col("vec_id") != 0)
        .alias("c")
        .join(F.broadcast(pick_side(seed)), F.lit(True))
        .select(
            F.col("c.vec_id").alias("vec_id"),
            F.col("c.embedding").alias("embedding"),
            F.col("c.n1").alias("n1"),
            d2.alias("min_dist2"),
        )
    )
    for rank in range(2, _KC_K + 1):
        pick = (
            remaining.orderBy(F.desc("min_dist2"), F.asc("vec_id"))
            .limit(1)
            .localCheckpoint()
        )
        picks.append(
            pick.select(F.lit(rank).alias("rank"), "vec_id", "min_dist2")
        )
        if rank == _KC_K:
            break  # the last round's fold would never be read
        remaining = (
            remaining.join(
                F.broadcast(pick.select("vec_id")), "vec_id", "left_anti"
            )
            .alias("c")
            .join(F.broadcast(pick_side(pick)), F.lit(True))
            .select(
                F.col("c.vec_id").alias("vec_id"),
                F.col("c.embedding").alias("embedding"),
                F.col("c.n1").alias("n1"),
                F.least(F.col("c.min_dist2"), d2).alias("min_dist2"),
            )
            # materialize the folded running-min per round (see
            # mmr_diverse_topk): otherwise each TakeOrdered re-executes
            # every prior round's anti-join + 1-row broadcast fold
            .localCheckpoint()
        )
    out = picks[0]
    for pk in picks[1:]:
        out = out.unionByName(pk)
    return out


def _kcenter_sql() -> str:
    parts = ["sel1 AS (SELECT vec_id FROM embeddings WHERE vec_id = 0)"]
    for i in range(2, _KC_K + 1):
        prev = i - 1
        parts.append(f"""
kp{i} AS MATERIALIZED (
  SELECT a.vec_id, s.vec_id AS sid, {sql_dsum('a.x * b.x', EMB_SCALE)} AS dot
  FROM ex a JOIN sel{prev} s ON TRUE
       JOIN ex b ON b.vec_id = s.vec_id AND b.pos = a.pos
  WHERE a.vec_id NOT IN (SELECT vec_id FROM sel{prev})
  GROUP BY a.vec_id, s.vec_id
),
km{i} AS MATERIALIZED (
  SELECT p.vec_id,
         MIN(n.n1 + ns.n1 - CAST(2.0 AS DOUBLE) * p.dot) AS min_dist2
  FROM kp{i} p JOIN norms n ON n.vec_id = p.vec_id
             JOIN norms ns ON ns.vec_id = p.sid
  GROUP BY p.vec_id
),
ks{i} AS MATERIALIZED (
  SELECT vec_id, min_dist2 FROM km{i}
  ORDER BY min_dist2 DESC, vec_id LIMIT 1
),
sel{i} AS (SELECT vec_id FROM sel{prev} UNION ALL SELECT vec_id FROM ks{i})""")
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, vec_id, min_dist2 FROM ks{i}"
        for i in range(2, _KC_K + 1)
    )
    return (
        "WITH " + _EX_CTE.replace("ex AS (", "ex AS MATERIALIZED (", 1) + """,
norms AS MATERIALIZED (
  SELECT vec_id, """ + sql_dsum("x * x", EMB_SCALE) + """ AS n1 FROM ex GROUP BY vec_id
),""" + ",".join(parts) + f"""
SELECT 1 AS rank, vec_id, CAST(NULL AS DOUBLE) AS min_dist2
FROM embeddings WHERE vec_id = 0
UNION ALL
{union}
"""
    )


def knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the kNN graph: per-node triangle count and
    local clustering coefficient 2T/(d(d−1)) — the standard density
    diagnostic of a near-dup graph (tight duplicate clusters show up
    as high-coefficient nodes; bridges and false candidates as low).

    Scale shape: rides the memoized kNN edge table, whose out-degree
    is bounded by construction (top-k per node over capped LSH
    buckets), so the undirected edge set has degree ≤ 2k and the
    wedge join (a,b)⋈(b,c) fans out at most deg² per pivot node —
    bounded, never corpus-quadratic. Triangles are enumerated once
    each via the a<b<c orientation; both joins are hash equi-joins on
    vertex keys."""
    e = knn_graph(spark, sf_dir).select("vec_id", "nbr_id")
    und = (
        e.filter(F.col("vec_id") != F.col("nbr_id"))
        .select(
            F.least("vec_id", "nbr_id").alias("u"),
            F.greatest("vec_id", "nbr_id").alias("v"),
        )
        .distinct()
        .localCheckpoint()  # feeds wedge join (x3), degree, closure
    )
    ab, bc, ac = und.alias("ab"), und.alias("bc"), und.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.v") == F.col("bc.u"))
        .join(
            ac,
            (F.col("ac.u") == F.col("ab.u")) & (F.col("ac.v") == F.col("bc.v")),
        )
        .select(
            F.col("ab.u").alias("a"),
            F.col("ab.v").alias("b"),
            F.col("bc.v").alias("c"),
        )
    )
    tn = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        und.select(F.col("u").alias("vec_id"))
        .unionAll(und.select(F.col("v").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    joined = deg.join(tn, "vec_id", "left").withColumn(
        "n_triangles", F.coalesce("n_triangles", F.lit(0))
    )
    cc = F.when(
        F.col("degree") >= 2,
        (F.lit(2) * F.col("n_triangles")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "vec_id", "degree", "n_triangles", cc.alias("clustering_coeff")
    )


_TRIANGLES_SQL = f"""
WITH knn AS ({_KNN_SQL}),
und AS (
  SELECT DISTINCT LEAST(vec_id, nbr_id) AS u, GREATEST(vec_id, nbr_id) AS v
  FROM knn WHERE vec_id <> nbr_id
),
tri AS (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM und ab
  JOIN und bc ON ab.v = bc.u
  JOIN und ac ON ac.u = ab.u AND ac.v = bc.v
),
tn AS (
  SELECT node AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY node
),
deg AS (
  SELECT node AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
)
SELECT d.vec_id, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS clustering_coeff
FROM deg d LEFT JOIN tn t USING (vec_id)
"""


# ---------------------------------------------------------------------
# Label-noise detection: k-NN label agreement
# ---------------------------------------------------------------------


def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screening (Confident-Learning style, the k-NN
    variant): for every vector, how many of its k nearest neighbors
    share its label. Rows whose neighborhood out-votes their own label
    (``n_same·2 < k_eff``) are the mislabel candidates a curation
    pipeline routes to re-annotation.

    Rides the memoized LSH-blocked :func:`knn_graph` (no new pair
    generation); the two label lookups are equi-joins against the
    narrow (vec_id, label) projection, and the per-vector verdict is
    one integer aggregate — all counts exact, no floats."""
    g = knn_graph(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    nbr_lab = lab.select(
        F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")
    )
    return (
        g.join(lab, "vec_id")
        .join(nbr_lab, "nbr_id")
        .groupBy("vec_id", "label")
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.sum(
                F.when(F.col("nbr_label") == F.col("label"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_same"),
        )
        .withColumn(
            "suspect",
            F.when(F.col("n_same") * 2 < F.col("k_eff"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
    )


_KNN_LABEL_SQL = f"""
WITH knn AS ({_KNN_SQL}),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT k.vec_id, l.label,
  CAST(COUNT(*) AS BIGINT) AS k_eff,
  CAST(SUM(CASE WHEN nl.label = l.label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_same,
  CAST(CASE WHEN SUM(CASE WHEN nl.label = l.label THEN 1 ELSE 0 END) * 2
            < COUNT(*) THEN 1 ELSE 0 END AS INTEGER) AS suspect
FROM knn k
JOIN lab l ON l.vec_id = k.vec_id
JOIN lab nl ON nl.vec_id = k.nbr_id
GROUP BY k.vec_id, l.label
"""

# ---------------------------------------------------------------------
# Semi-supervised label propagation over the kNN graph
# ---------------------------------------------------------------------

_LP_ROUNDS = 2
_LP_SEED_MOD = 4  # labels observed only for vec_id % 4 == 0


def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised labeling: seed labels are observed only for a
    quarter of the corpus (``vec_id % 4 == 0``); each round, every
    still-unlabeled vector adopts the MAJORITY label among its already
    labeled kNN neighbors (ties → smallest label; no labeled neighbor →
    stays unlabeled). Seeds are clamped. ``_LP_ROUNDS`` rounds, exactly
    the Zhu–Ghahramani hard-label iteration a curation pipeline uses to
    extend a small annotation budget across a 100-TB corpus.

    Plan per round: one equi-join of the (memoized, LSH-blocked) edge
    list against the current label frame on the neighbor side, one
    anti-join to restrict to unlabeled vectors, one integer groupBy,
    and the portable argmax (max struct (cnt, −label) — bit-free of
    engine tie order). Round count is the knob; each round's cost is
    one keyed shuffle of the edge list, independent of rounds before it.

    Output: (vec_id, label, rnd) — rnd 0 for seeds, r for round-r
    adoptions; never-reached vectors are absent (the oracle agrees)."""
    g = knn_graph(spark, sf_dir).select("vec_id", "nbr_id")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    labeled = emb.filter(F.col("vec_id") % _LP_SEED_MOD == 0).select(
        "vec_id", "label", F.lit(0).cast("int").alias("rnd")
    )
    for r in range(1, _LP_ROUNDS + 1):
        nbr_lab = labeled.select(
            F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")
        )
        votes = (
            g.join(nbr_lab, "nbr_id")
            .join(labeled.select("vec_id"), "vec_id", "left_anti")
            .groupBy("vec_id", "nbr_label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        adopted = (
            votes.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("neg"))
                ).alias("best")
            )
            .select(
                "vec_id",
                (-F.col("best.neg")).cast("int").alias("label"),
                F.lit(r).cast("int").alias("rnd"),
            )
        )
        labeled = labeled.unionByName(adopted).localCheckpoint()
    return labeled


def _lp_sql() -> str:
    rounds = []
    prev = "seeds"
    for r in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"""
r{r}cand AS (
  SELECT k.vec_id, s.label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM knn k JOIN {prev} s ON s.vec_id = k.nbr_id
  WHERE k.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY k.vec_id, s.label
),
r{r} AS (
  SELECT vec_id, label, CAST({r} AS INTEGER) AS rnd FROM (
    SELECT vec_id, label,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cnt DESC, label ASC)
        AS rk
    FROM r{r}cand) z WHERE rk = 1
),
l{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM r{r})"""
        )
        prev = f"l{r}"
    return f"""
WITH knn AS ({_KNN_SQL}),
seeds AS (
  SELECT vec_id, label, CAST(0 AS INTEGER) AS rnd
  FROM embeddings WHERE vec_id % {_LP_SEED_MOD} = 0
),{",".join(rounds)}
SELECT vec_id, label, rnd FROM {prev}
"""


# ---------------------------------------------------------------------
# Retrieval-quality audit (RAG-eval): MRR / hit@k of embedding
# retrieval against same-label relevance judgments — the ranking-
# quality complement to ann_recall_audit's shortlist-coverage metric.
# ---------------------------------------------------------------------

_MRR_QMOD = 97  # eval-query sample: vec_id % _MRR_QMOD == 0
_MRR_K = 10  # hit@k / ndcg@k cutoff



def _ranked_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared retrieval-eval ranking (qid, qlabel, label, rank):
    every non-query vector ranked by exact cosine per sampled query.
    Memoized — MRR and nDCG score the same
    ranking, so the brute-force leg runs once."""
    def build():
        emb = (
            fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
            .select("vec_id", "embedding", "label")
            .withColumn("n1", array_norm2(F.col("embedding"), EMB_SCALE))
        )
        q = emb.filter(F.col("vec_id") % _MRR_QMOD == 0).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("qe"),
            F.col("n1").alias("qn1"),
        )
        scored = emb.join(
            F.broadcast(q), F.col("vec_id") != F.col("qid")
        ).withColumn(
            "sim",
            array_dot(F.col("embedding"), F.col("qe"), EMB_SCALE)
            / F.sqrt(F.col("n1") * F.col("qn1")),
        )
        w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
        return (
            scored.select(
                "qid", "qlabel", "label", F.row_number().over(w).alias("rank")
            ).localCheckpoint()
        )

    return memo("ranked_eval", (spark, sf_dir), build)


def retrieval_mrr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval query (vec_id % _MRR_QMOD == 0): rank every OTHER
    vector by exact cosine and score the ranking against same-label
    relevance — (query_id, label, n_relevant, first_rel_rank,
    reciprocal_rank, hit_at_10).  The reciprocal rank is one exact
    rational (1 / first relevant rank), so the gate hashes the whole
    eval table; aggregate MRR is a fixed-point mean away downstream.

    Scale shape: the query sample is a BOUNDED dimension (n / _MRR_QMOD
    rows) broadcast across the corpus — the brute-force eval leg, the
    same discipline as shingle_minhash_recall's truth build; the 100 TB
    path shortlists per query via the IVF/LSH rankers first and ranks
    only the shortlist (ann_recall_audit measures exactly that
    coverage)."""
    ranked = _ranked_eval(spark, sf_dir)
    rel = F.col("label") == F.col("qlabel")
    per_q = ranked.groupBy("qid", "qlabel").agg(
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("n_relevant"),
        F.min(F.when(rel, F.col("rank"))).cast("long").alias("first_rel_rank"),
        F.sum(F.when(rel & (F.col("rank") <= _MRR_K), 1).otherwise(0))
        .cast("long")
        .alias("rel_in_top_k"),
    )
    return per_q.select(
        F.col("qid").alias("query_id"),
        F.col("qlabel").alias("label"),
        "n_relevant",
        "first_rel_rank",
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.lit(1.0).cast("double") / F.col("first_rel_rank").cast("double"),
        )
        .otherwise(F.lit(0.0).cast("double"))
        .alias("reciprocal_rank"),
        F.when(F.col("rel_in_top_k") > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hit_at_10"),
    )


_RANKED_EVAL_CTES = f"""{_EX_CTE},
norms AS MATERIALIZED (
  SELECT vec_id, {sql_dsum("x * x", EMB_SCALE)} AS n1 FROM ex GROUP BY vec_id
),
q AS MATERIALIZED (
  SELECT vec_id AS qid, label AS qlabel
  FROM embeddings WHERE vec_id % {_MRR_QMOD} = 0
),
dots AS MATERIALIZED (
  SELECT a.vec_id, s.qid, {sql_dsum("a.x * b.x", EMB_SCALE)} AS dot
  FROM ex a JOIN q s ON a.vec_id <> s.qid
       JOIN ex b ON b.vec_id = s.qid AND b.pos = a.pos
  GROUP BY a.vec_id, s.qid
),
ranked AS MATERIALIZED (
  SELECT d.qid, s.qlabel, e.label,
         ROW_NUMBER() OVER (
           PARTITION BY d.qid
           ORDER BY d.dot / SQRT(nc.n1 * nq.n1) DESC, d.vec_id) AS rank
  FROM dots d
  JOIN q s ON s.qid = d.qid
  JOIN embeddings e ON e.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.vec_id
  JOIN norms nq ON nq.vec_id = d.qid
)"""

_MRR_SQL = f"""
WITH {_RANKED_EVAL_CTES},
per_q AS (
  SELECT qid, qlabel,
    CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
      AS n_relevant,
    CAST(MIN(CASE WHEN label = qlabel THEN rank END) AS BIGINT)
      AS first_rel_rank,
    CAST(SUM(CASE WHEN label = qlabel AND rank <= {_MRR_K}
             THEN 1 ELSE 0 END) AS BIGINT) AS rel_in_top_k
  FROM ranked GROUP BY qid, qlabel
)
SELECT qid AS query_id, qlabel AS label, n_relevant, first_rel_rank,
  CASE WHEN first_rel_rank IS NOT NULL
       THEN CAST(1.0 AS DOUBLE) / CAST(first_rel_rank AS DOUBLE)
       ELSE CAST(0.0 AS DOUBLE) END AS reciprocal_rank,
  CAST(CASE WHEN rel_in_top_k > 0 THEN 1 ELSE 0 END AS BIGINT)
    AS hit_at_10
FROM per_q
"""


# nDCG@k on the same ranking (Järvelin & Kekäläinen 2002, binary
# gains).  The log2 discounts are the one transcendental — so, the
# _LC_TABLE discipline: a k-entry CONSTANT table of fixed-point
# integer discounts round(2^40 / log2(i+1)) precomputed in Python and
# embedded verbatim in both engines.  Per-query DCG is then a SUM of
# BIGINTs (order-independent, unlike a float sum of discounts), the
# ideal DCG an indexed prefix-sum constant, and nDCG one final double
# division of exact integers.

_NDCG_DISC_FP = [
    round((1 << 40) / _pymath.log2(i + 1)) for i in range(1, _MRR_K + 1)
]
_NDCG_IDCG_FP = [
    sum(_NDCG_DISC_FP[: m + 1]) for m in range(_MRR_K)
]
_NDCG_DISC_SQL = "[" + ", ".join(str(v) for v in _NDCG_DISC_FP) + "]"
_NDCG_IDCG_SQL = "[" + ", ".join(str(v) for v in _NDCG_IDCG_FP) + "]"


def ndcg_retrieval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval query: binary-gain nDCG@10 of the exact-cosine ranking
    against same-label relevance — (query_id, label, n_relevant,
    dcg_fp, idcg_fp, ndcg_at_10).  Shares the memoized ranking with
    retrieval_mrr_audit; DCG accumulates integer fixed-point discounts
    so the gate hashes the sums exactly, and the ideal DCG is the
    prefix-sum table indexed at min(n_relevant, k)."""
    ranked = _ranked_eval(spark, sf_dir)
    rel = F.col("label") == F.col("qlabel")
    disc = F.array(*[F.lit(v).cast("long") for v in _NDCG_DISC_FP])
    idcg = F.array(*[F.lit(v).cast("long") for v in _NDCG_IDCG_FP])
    per_q = ranked.groupBy("qid", "qlabel").agg(
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("n_relevant"),
        F.sum(
            F.when(
                rel & (F.col("rank") <= _MRR_K),
                F.element_at(disc, F.col("rank").cast("int")),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("dcg_fp"),
    )
    return (
        per_q.withColumn(
            "idcg_fp",
            F.when(
                F.col("n_relevant") > 0,
                F.element_at(
                    idcg,
                    F.least(F.col("n_relevant"), F.lit(_MRR_K).cast("long"))
                    .cast("int"),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlabel").alias("label"),
            "n_relevant",
            "dcg_fp",
            "idcg_fp",
            F.when(
                F.col("idcg_fp") > 0,
                F.col("dcg_fp").cast("double") / F.col("idcg_fp").cast("double"),
            )
            .otherwise(F.lit(0.0).cast("double"))
            .alias("ndcg_at_10"),
        )
    )


_NDCG_SQL = f"""
WITH {_RANKED_EVAL_CTES},
per_q AS (
  SELECT qid, qlabel,
    CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
      AS n_relevant,
    CAST(SUM(CASE WHEN label = qlabel AND rank <= {_MRR_K}
             THEN ({_NDCG_DISC_SQL})[rank] ELSE 0 END) AS BIGINT) AS dcg_fp
  FROM ranked GROUP BY qid, qlabel
)
SELECT qid AS query_id, qlabel AS label, n_relevant, dcg_fp,
  CAST(CASE WHEN n_relevant > 0
       THEN ({_NDCG_IDCG_SQL})[LEAST(n_relevant, {_MRR_K})]
       ELSE 0 END AS BIGINT) AS idcg_fp,
  CASE WHEN n_relevant > 0
       THEN CAST(dcg_fp AS DOUBLE)
            / CAST(({_NDCG_IDCG_SQL})[LEAST(n_relevant, {_MRR_K})] AS DOUBLE)
       ELSE CAST(0.0 AS DOUBLE) END AS ndcg_at_10
FROM per_q
"""


QUERIES = {
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "ann_ivf_topk": ann_ivf_topk,
    "kmeans_cells": kmeans_cells,
    "ann_ivf_trained_topk": ann_ivf_trained_topk,
    "semantic_dedup": semantic_dedup,
    "pq_codes": pq_codes,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "knn_graph": knn_graph,
    "knn_triangles": knn_triangles,
    "cluster_balanced_sample": cluster_balanced_sample,
    "knn_pagerank": knn_pagerank,
    "contrastive_triples": contrastive_triples,
    "knn_reciprocal_pairs": knn_reciprocal_pairs,
    "mmr_diverse_topk": mmr_diverse_topk,
    "kcenter_coreset": kcenter_coreset,
    "ann_opq_topk": ann_opq_topk,
    "opq_recall_audit": opq_recall_audit,
    "knn_label_agreement": knn_label_agreement,
    "knn_label_propagation": knn_label_propagation,
    "retrieval_mrr_audit": retrieval_mrr_audit,
    "ndcg_retrieval_audit": ndcg_retrieval_audit,
}

ORACLES = {
    "embedding_neardup_pairs": _NEARDUP_SQL,
    "ann_ivf_topk": _IVF_SQL,
    "kmeans_cells": _KMEANS_SQL,
    "ann_ivf_trained_topk": _IVF_TRAINED_SQL,
    "semantic_dedup": _SEMDEDUP_SQL,
    "pq_codes": _PQ_CODES_SQL,
    "ann_pq_topk": _PQ_TOPK_SQL,
    "ann_ivfpq_topk": _IVFPQ_SQL,
    "knn_graph": _KNN_SQL,
    "knn_triangles": _TRIANGLES_SQL,
    "cluster_balanced_sample": _CBS_SQL,
    "knn_pagerank": _PR_SQL,
    "contrastive_triples": _CT_SQL,
    "knn_reciprocal_pairs": _RNN_SQL,
    "mmr_diverse_topk": _mmr_sql(),
    "kcenter_coreset": _kcenter_sql(),
    "ann_opq_topk": _OPQ_TOPK_SQL,
    "opq_recall_audit": _opq_recall_sql(),
    "knn_label_agreement": _KNN_LABEL_SQL,
    "knn_label_propagation": _lp_sql(),
    "retrieval_mrr_audit": _MRR_SQL,
    "ndcg_retrieval_audit": _NDCG_SQL,
}
