"""Streaming mergeable sketches (count-min + HyperLogLog) for an
online corpus feed.

The batch engine's CMS (`queries/curation.cms_heavy_hitters`) and HLL
(`queries/sketches.hll_distinct_tokens`) are tiny aggregates whose
defining property is MERGEABILITY — cell-wise SUM (CMS) / register-wise
MAX (HLL) of two sketches equals the sketch of the concatenated
streams. That property is exactly what a streaming deployment needs:
each micro-batch contributes its own bounded partial (≤ 256 CMS cells,
≤ 64 HLL registers BY CONSTRUCTION, whatever the batch size), and the
accumulated state is the merge. The store grows O(epochs · partial)
rows and compaction folds history back to one partial.

Each epoch's partial is one epoch of an epoch store
(:mod:`trx_spark.streaming.store`): an at-least-once replay rewrites its
own epoch instead of double-counting, and compaction folds the history
through the family's merge into ``_epoch=-1`` under a watermark that
makes replays of absorbed epochs no-ops.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trx_spark.queries.curation import _cms_cells
from trx_spark.streaming import store


def _batch_cells(batch: DataFrame) -> DataFrame:
    """(cell, c) CMS partial of one micro-batch's token stream."""
    from trx_spark.queries.textdata import _TOKEN_RE, _tok_hash

    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    return (
        batch.select(F.explode(toks).alias("token"))
        .select(F.explode(_cms_cells(_tok_hash(F.col("token")))).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _batch_hll_registers(batch: DataFrame) -> DataFrame:
    """(reg, rmax) HLL partial of one micro-batch — built from the
    SAME register construction as the batch query
    (`queries/sketches.hll_register_cols` / `hll_rho`), so the
    streaming twin cannot drift from the gate-checked batch sketch."""
    from trx_spark.queries.sketches import hll_register_cols, hll_rho
    from trx_spark.queries.textdata import _TOKEN_RE

    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    reg, wv = hll_register_cols(F.col("token"))
    return (
        batch.select(F.explode(toks).alias("token"))
        .select(reg.alias("reg"), wv.alias("wv"))
        .withColumn("rho", hll_rho(F.col("wv")))
        .groupBy("reg")
        .agg(F.max("rho").alias("rmax"))
    )


def make_partial_handler(
    sketch_dir: str, partial_fn: Callable[[DataFrame], DataFrame]
):
    """foreachBatch handler shared by every sketch family: write this
    epoch's bounded partial as one epoch of the store, unless a
    compaction already absorbed it."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if store.absorbed(sketch_dir, epoch_id):
            return
        store.write(partial_fn(batch), sketch_dir, epoch_id)

    return handle


def merged_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Cell-wise SUM across all epoch partials — by CMS mergeability
    this equals the batch sketch of everything ingested so far."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("cell")
        .agg(F.sum("c").alias("c"))
    )


def merged_hll_registers(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Register-wise MAX across all epoch partials — by HLL
    mergeability this equals the batch register table of everything
    ingested so far (pinned by tests/test_round4b.py's merge property
    and tests/test_streaming_sketch.py's multi-wave equality)."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("reg")
        .agg(F.max("rmax").alias("rmax"))
    )


def compact_cms_store(spark: SparkSession, sketch_dir: str) -> None:
    store.compact(spark, sketch_dir, merged_sketch)


def _run_catchup(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    sketch_dir: str,
    checkpoint_dir: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[SparkSession, str], DataFrame],
    path_glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the landing dir (availableNow) through a partial handler;
    return the merged sketch."""
    store.drain(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        handler=make_partial_handler(sketch_dir, partial_fn),
        checkpoint_dir=checkpoint_dir,
        path_glob_filter=path_glob_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
    return merge_fn(spark, sketch_dir)


def run_cms_catchup(spark: SparkSession, **kw) -> DataFrame:
    """CMS catch-up: merged (cell, c) sketch of the drained feed."""
    return _run_catchup(spark, partial_fn=_batch_cells, merge_fn=merged_sketch, **kw)


def run_hll_catchup(spark: SparkSession, **kw) -> DataFrame:
    """HLL catch-up: merged (reg, rmax) register table of the feed."""
    return _run_catchup(
        spark, partial_fn=_batch_hll_registers, merge_fn=merged_hll_registers, **kw
    )


# ---------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch: the third mergeable family.
# Keeping the K smallest distinct hash values is a mergeable order
# statistic — the K smallest of the UNION of per-epoch K-min partials
# equals the K smallest over everything ingested, so the streamed
# sketch EQUALS the batch sketch (queries/sketches.kmv_source_overlap's
# per-source construction) and carries a full DuckDB oracle.  Each
# epoch's partial is ≤ sources·K rows BY CONSTRUCTION; compaction folds
# the epoch history back to one K-min list per source.
# ---------------------------------------------------------------------


def _batch_kmv_partial(batch: DataFrame) -> DataFrame:
    """(source, h) K-min partial of one micro-batch's bigram stream —
    the SAME hash/bigram construction as the batch KMV query, so the
    streaming twin cannot drift from the gate-checked batch sketch."""
    from pyspark.sql import Window

    from trx_spark.queries.sketches import _KMV_A, _KMV_B, _KMV_K
    from trx_spark.queries.textdata import _P, _TOKEN_RE, _tok_hash

    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    )
    sh = (
        batch.select("source", F.explode(bigrams).alias("token"))
        .select(
            "source",
            ((_tok_hash(F.col("token")) * _KMV_A + _KMV_B) % _P).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    return (
        sh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
    )


def merged_kmv_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Per-source K smallest distinct h across all epoch partials — by
    the order-statistic merge property this equals the batch K-min
    sketch of everything ingested so far."""
    from pyspark.sql import Window

    from trx_spark.queries.sketches import _KMV_K

    w = Window.partitionBy("source").orderBy("h")
    return (
        spark.read.parquet(sketch_dir)
        .select("source", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
    )


def compact_kmv_store(spark: SparkSession, sketch_dir: str) -> None:
    store.compact(spark, sketch_dir, merged_kmv_sketch)


def run_kmv_catchup(spark: SparkSession, **kw) -> DataFrame:
    """KMV catch-up: merged per-source (source, h) K-min sketch."""
    return _run_catchup(
        spark, partial_fn=_batch_kmv_partial, merge_fn=merged_kmv_sketch, **kw
    )


# ---------------------------------------------------------------------
# Quantile sketch (hash-level sampling, the KLL sampler component):
# the fourth mergeable family.  A row survives at level L iff the
# trailing-zero count of its key hash is ≥ L, and each partial records
# the smallest level whose survivors fit the capacity K — so the merge
# (union the partials' survivors, re-select the level starting at the
# MAX of the partial levels) equals the one-shot sketch of everything
# ingested BIT-FOR-BIT (tests/test_qsketch.py pins it), and the
# streamed gate carries a full DuckDB oracle.  Each epoch's partial is
# ≤ groups·K rows BY CONSTRUCTION; compaction folds the epoch history
# back to one survivor set per group.
# ---------------------------------------------------------------------


def _batch_qsketch_partial(batch: DataFrame) -> DataFrame:
    """(g, lvl, cv, h) survivor partial of one micro-batch of the
    events feed — the SAME hash/level/selection construction as the
    batch gate (`queries/sketches.qs_rows` / `qs_kept`), so the
    streaming twin cannot drift from the gate-checked batch sketch."""
    from trx_spark.queries.sketches import qs_kept, qs_rows

    rows = qs_rows(
        batch,
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("long"),
        F.col("event_type"),
    )
    return qs_kept(rows)


def merged_qsketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Survivor union re-selected at (floor = max partial level) — by
    the level-filter nesting S_{L'} ⊆ S_L this equals the one-shot
    sketch of everything ingested so far, bit-for-bit."""
    from trx_spark.queries.sketches import _QS_TZC_SQL, qs_kept

    parts = spark.read.parquet(sketch_dir)
    floor = parts.groupBy("g").agg(F.max("lvl").alias("lfloor"))
    # NO distinct here: the batch one-shot keeps duplicate (g, cv, h)
    # rows (two events colliding on the key hash each survive), so a
    # distinct would make streamed ≠ batch exactly in that corner.
    # Replay never duplicates rows anyway — each epoch rewrites its own
    # partition (dynamic overwrite) and compaction watermarks absorbed
    # epochs, the same idempotency contract as the CMS/HLL/KMV stores.
    cand = (
        parts.select("g", "cv", "h")
        .withColumn("tzc", F.expr(_QS_TZC_SQL))
        .join(F.broadcast(floor), "g")
        .filter(F.col("tzc") >= F.col("lfloor"))
    )
    # above the floor the candidate union's level counts equal the full
    # data's (every row with tzc ≥ floor survived its own partial), so
    # re-selection lands on the one-shot level exactly
    return qs_kept(cand.select("g", "cv", "h", "tzc"), floor)


def compact_qsketch_store(spark: SparkSession, sketch_dir: str) -> None:
    store.compact(spark, sketch_dir, merged_qsketch)


def run_qsketch_catchup(spark: SparkSession, **kw) -> DataFrame:
    """Quantile-sketch catch-up: merged per-group survivor set."""
    return _run_catchup(
        spark, partial_fn=_batch_qsketch_partial, merge_fn=merged_qsketch, **kw
    )


# ---------------------------------------------------------------------
# Misra–Gries heavy hitters (queries/mgsketch.py): unlike the
# commutative sketches above, the MG fold is ORDER-dependent across
# batches — but batch membership is ``doc_id % B`` (a pure function of
# the row) and the merge folds partials in BATCH order, not epoch
# order, so the streamed result is still a pure function of the input
# multiset.  Each epoch must carry whole batches (one batch file per
# micro-batch: maxFilesPerTrigger=1 in run_mg_catchup) — the partial
# canonicalizes per batch id found in the epoch, so even a re-ordered
# delivery folds identically.
# ---------------------------------------------------------------------


def _batch_mg_partial(batch: DataFrame) -> DataFrame:
    """≤ (K+1)-row canonicalized MG partial per batch id in this
    micro-batch: (batch, token, pc, d_part, n_part) residual rows plus
    one token=NULL sentinel per batch so an all-decremented batch
    still carries its decrement and token mass into the fold.  The
    top-(K+1) is a bounded collect per epoch (micro-batch grain)."""
    from pyspark.sql import Window

    from trx_spark.queries.curation import _TOKEN_RE
    from trx_spark.queries.mgsketch import _MG_B, _MG_K, mg_canon

    spark = batch.sparkSession
    toks = batch.select(
        (F.col("doc_id") % _MG_B).alias("batch"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
        ).alias("token"),
    )
    cnt = toks.groupBy("batch", "token").agg(F.count(F.lit(1)).alias("c"))
    # the per-batch token mass rides the SAME batch-keyed exchange as
    # the rank window (a second window function, no extra shuffle), so
    # ONE collect replaces the former top + mass pair — whose second
    # job re-ran the whole tokenize+count lineage (guide §2.1)
    w = Window.partitionBy("batch").orderBy(F.desc("c"), F.asc("token"))
    wm = Window.partitionBy("batch")
    top = (
        cnt.withColumn("rn", F.row_number().over(w))
        .withColumn("m", F.sum("c").over(wm))
        .filter(F.col("rn") <= _MG_K + 1)
        .collect()
    )
    mass = {int(r["batch"]): int(r["m"]) for r in top}
    by_batch: dict[int, dict[str, int]] = {}
    for r in top:
        by_batch.setdefault(int(r["batch"]), {})[r["token"]] = int(r["c"])
    out = []
    for bid, counts in sorted(by_batch.items()):
        part, d_b = mg_canon(counts, _MG_K)
        n_part = int(mass[bid])
        for t, c in sorted(part.items()):
            out.append((bid, t, c, d_b, n_part))
        out.append((bid, None, None, d_b, n_part))  # sentinel
    return spark.createDataFrame(
        out, "batch long, token string, pc long, d_part long, n_part long"
    )


def merged_mg(
    spark: SparkSession, sketch_dir: str, window: int | None = None
) -> DataFrame:
    """Fold the stored per-batch partials with the SAME
    queries/mgsketch.mg_fold the batch gate uses: (token, mg_count,
    d_total, n_total).  Bounded driver work — the store holds ≤ K+2
    rows per batch by construction.

    A batch id appearing in MORE than one epoch means the
    one-batch-file-per-micro-batch contract (``_batch_mg_partial``)
    was violated: the old last-write-wins map would silently drop one
    epoch's decrement and token mass, so this FAILS LOUDLY instead
    (the r12 ADVICE item).

    ``window`` keeps only the W highest batch ids present before the
    fold — the sliding-window summary: evicted batches' partials never
    enter the fold, so the result equals the batch gate's recompute on
    the window (the pure-multiset discipline, batch membership being a
    function of the row)."""
    from trx_spark.queries.mgsketch import mg_fold

    rows = spark.read.parquet(sketch_dir).collect()
    parts_map: dict[int, dict[str, int]] = {}
    d_map: dict[int, int] = {}
    n_map: dict[int, int] = {}
    epochs: dict[int, set[int]] = {}
    for r in rows:
        bid = int(r["batch"])
        epochs.setdefault(bid, set()).add(int(r["_epoch"]))
        d_map[bid] = int(r["d_part"])
        n_map[bid] = int(r["n_part"])
        if r["token"] is not None:
            parts_map.setdefault(bid, {})[r["token"]] = int(r["pc"])
    dups = sorted(b for b, es in epochs.items() if len(es) > 1)
    if dups:
        raise ValueError(
            f"MG store {sketch_dir} holds partials for batch ids {dups} "
            "in multiple epochs — a batch's docs spanned micro-batches, "
            "violating the one-batch-file-per-micro-batch contract; "
            "merging would silently drop decrement and token mass"
        )
    bids = sorted(d_map)
    if window is not None:
        bids = bids[-window:]
    parts = [(b, parts_map.get(b, {}), d_map[b]) for b in bids]
    state, d_total = mg_fold(parts)
    n_total = sum(n_map[b] for b in bids)
    return spark.createDataFrame(
        [(t, c, d_total, n_total) for t, c in sorted(state.items())],
        "token string, mg_count long, d_total long, n_total long",
    )


# NOTE: there is deliberately no compact_mg_store — the MG fold is
# batch-ordered, so the store must keep its per-batch partials (and at
# ≤ K+2 rows per batch, folding history into one partial would save
# nothing while destroying the replay order the merge depends on).


def run_mg_catchup(
    spark: SparkSession, window: int | None = None, **kw
) -> DataFrame:
    """Heavy-hitters catch-up: one batch file per micro-batch.
    ``window`` = fold only the last W batch ids at merge (sliding
    window); the store keeps every partial, so the window can slide
    forward as later batches land without recomputing history."""
    kw.setdefault("max_files_per_trigger", 1)

    def merge(s: SparkSession, d: str) -> DataFrame:
        return merged_mg(s, d, window=window)

    return _run_catchup(
        spark, partial_fn=_batch_mg_partial, merge_fn=merge, **kw
    )
