"""Incremental view maintenance: a streaming MATERIALIZED VIEW of the
flagship pricing aggregation, maintained as mergeable partial
aggregates.

Every distributive/algebraic aggregate (SUM, COUNT, MIN, MAX, and AVG
as SUM/COUNT) is a mergeable sketch in the same sense as the CMS/HLL
partials (`streaming/sketch.py`): each micro-batch contributes a
bounded partial (one row per group), the accumulated view is the
key-wise merge, and the result equals the batch aggregation of all
ingested rows EXACTLY — the fixed-point integer sums
(:mod:`trx_spark.exact`) make the equality bit-exact, so the streaming
view carries the SAME DuckDB oracle as the batch `pricing_summary`
query.

This is the Spark-first replacement for the reference's online loop
"recompute the reduction after each new file" (trx/id9.py:330):
instead of recomputing over the accumulated store, the view merges
per-epoch partials — per-epoch work is O(batch), merge work is
O(groups · epochs), and compaction folds history to O(groups).

The partials live in an epoch store (:mod:`trx_spark.streaming.store`:
idempotent epoch writes, the compaction watermark, the availableNow
drain) and the pricing view drains through the sketch family's
partial handler — one mechanism, several state shapes (CMS cells /
HLL registers / aggregate partials).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trx_spark.exact import dfinal, fint
from trx_spark.streaming import store
from trx_spark.streaming.sketch import _run_catchup

_KEYS = ["l_returnflag", "l_linestatus"]


def pricing_partials(batch: DataFrame) -> DataFrame:
    """One micro-batch's partial: per-group fixed-point sums + counts
    (everything needed to reconstruct the full pricing summary)."""
    from trx_spark.queries.relational import _CUTOFF_NS

    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    dtypes = dict(batch.dtypes)
    if dtypes.get("l_shipdate") == "bigint":
        shipped = F.col("l_shipdate") <= F.lit(_CUTOFF_NS)
    else:
        shipped = F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast(
            dtypes["l_shipdate"]
        )
    return (
        batch.filter(shipped)
        .groupBy(*_KEYS)
        .agg(
            F.sum(fint(F.col("l_quantity"))).alias("fp_qty"),
            F.sum(fint(F.col("l_extendedprice"))).alias("fp_base"),
            F.sum(fint(disc_price)).alias("fp_disc_price"),
            F.sum(fint(charge)).alias("fp_charge"),
            F.sum(fint(F.col("l_discount"))).alias("fp_disc"),
            # per-column NON-NULL counts, so the finalized averages
            # divide exactly like the batch query's davg (= dsum /
            # count(col)) even on null-bearing measures
            F.count(F.col("l_quantity")).alias("n_qty"),
            F.count(F.col("l_extendedprice")).alias("n_price"),
            F.count(F.col("l_discount")).alias("n_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_PARTIAL_COLS = [
    "fp_qty", "fp_base", "fp_disc_price", "fp_charge", "fp_disc",
    "n_qty", "n_price", "n_disc", "n",
]


def _merge_partials(spark: SparkSession, view_dir: str) -> DataFrame:
    """Key-wise merge of the epoch partials — the ONE definition shared
    by the finalizing read and compaction, so a new partial column can
    never silently drop out of the folded store."""
    return (
        spark.read.parquet(view_dir)
        .groupBy(*_KEYS)
        .agg(*[F.sum(c).alias(c) for c in _PARTIAL_COLS])
    )


def merged_pricing_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """Merged partials finalized to the exact batch `pricing_summary`
    schema (the integer partial sums make the merge associative, and
    the final divisions — dsum/scale, dsum/count(col) — are the very
    expressions the batch query evaluates, so equality is bit-exact)."""
    m = _merge_partials(spark, view_dir)

    return m.select(
        *_KEYS,
        dfinal(F.col("fp_qty")).alias("sum_qty"),
        dfinal(F.col("fp_base")).alias("sum_base_price"),
        dfinal(F.col("fp_disc_price")).alias("sum_disc_price"),
        dfinal(F.col("fp_charge")).alias("sum_charge"),
        (dfinal(F.col("fp_qty")) / F.col("n_qty")).alias("avg_qty"),
        (dfinal(F.col("fp_base")) / F.col("n_price")).alias("avg_price"),
        (dfinal(F.col("fp_disc")) / F.col("n_disc")).alias("avg_disc"),
        F.col("n").alias("count_order"),
    )


def compact_pricing_view(spark: SparkSession, view_dir: str) -> None:
    """Fold epoch history to one partial per group (watermarked like
    the sketch stores). Folds the PARTIAL columns via the shared
    :func:`_merge_partials` — never the finalized view, whose averages
    are not associative."""
    store.compact(spark, view_dir, _merge_partials)


# ---------------------------------------------------------------------
# Incremental TRAINING-SET MANIFEST: the streaming twin of the batch
# curation capstone (queries/packing.training_set_manifest).
#
# The batch capstone rolls the keep-list survivors up into per-shard
# (n_docs, n_tokens, n_seqs).  The online variant composes the two
# streaming mechanisms this module family already has: the curation
# handler (streaming/curation.py) assigns each arriving document its
# FIRST-SEEN-WINS keep verdict (verdicts are final — first-seen-wins
# never revises them), and the matview discipline above turns each
# epoch's newly-kept docs into a mergeable ≤ n_shards-row partial
# (per-shard doc + token sums).  The merge is a key-wise SUM and the
# only non-associative column (n_seqs = ceil(tokens/budget)) is
# computed at FINALIZE, exactly like the pricing view's averages — so
# replayed/multi-wave ingest equals a recompute over the accumulated
# verdicts (pinned in tests/test_streaming_manifest.py), and a single
# full-corpus replay carries a complete DuckDB oracle (the
# ``streaming_manifest`` gate: the SQL first-seen-wins keep rules
# rolled up to shards).
#
# Scale shape: per-epoch work is the curation handler's (bounded store
# probes on touched buckets) plus one O(batch) map-side aggregation;
# the manifest store grows O(epochs · n_shards) rows and compaction
# folds it back to O(n_shards).
# ---------------------------------------------------------------------


def _manifest_partial(batch: DataFrame, verdict_dir: str, epoch: int,
                      n_shards: int) -> DataFrame:
    """≤ n_shards-row partial from this epoch's newly-kept documents:
    the epoch's verdict partition (just written — or already on disk
    when a replayed leg skipped the verdict) gates the batch docs."""
    from trx_spark.queries.curation import _BPE_RE

    spark = batch.sparkSession
    kept = (
        spark.read.parquet(verdict_dir)
        .filter((F.col("_epoch") == epoch) & F.col("keep"))
        .select("doc_id")
    )
    n_tok = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    ).cast("long")
    return (
        batch.join(F.broadcast(kept), "doc_id", "left_semi")
        .select(
            (F.col("doc_id") % n_shards).alias("shard"),
            n_tok.alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def make_manifest_batch_handler(
    hash_store: str,
    band_store: str,
    verdict_dir: str,
    manifest_dir: str,
    *,
    n_shards: int | None = None,
    key_cap: int | None = None,
):
    """foreachBatch handler: curation verdicts first (their own
    replay/compaction gating lives in the curation handler), then this
    epoch's manifest partial, idempotently into its ``_epoch``
    partition and gated on the manifest store's OWN compaction
    watermark."""
    from trx_spark.queries.packing import _N_PACK_SHARDS
    from trx_spark.streaming.curation import (
        _STREAM_KEY_CAP,
        make_curation_batch_handler,
    )

    shards = _N_PACK_SHARDS if n_shards is None else n_shards
    cap = _STREAM_KEY_CAP if key_cap is None else key_cap
    curate = make_curation_batch_handler(
        hash_store, band_store, verdict_dir, key_cap=cap
    )

    def handle(batch: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        curate(batch, epoch_id)
        if store.absorbed(manifest_dir, e):
            return
        store.write(_manifest_partial(batch, verdict_dir, e, shards), manifest_dir, e)

    return handle


def _merge_manifest_partials(spark: SparkSession, manifest_dir: str) -> DataFrame | None:
    """Key-wise sum of the epoch partials (shared by finalize and
    compaction — partial columns only, never the finalized n_seqs);
    None when nothing was written yet."""
    parts = store.read(spark, manifest_dir)
    if parts is None:
        return None
    return (
        parts.groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def merged_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Merged partials finalized to the batch capstone's schema:
    (shard, n_docs, n_tokens, n_seqs) — n_seqs is derived from the
    MERGED token sum, the same expression the batch query evaluates."""
    from trx_spark.queries.packing import _SEQ_BUDGET

    m = _merge_manifest_partials(spark, manifest_dir)
    if m is None:
        return spark.createDataFrame(
            [], "shard BIGINT, n_docs BIGINT, n_tokens BIGINT, n_seqs BIGINT"
        )
    return m.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.ceil(F.col("n_tokens").cast("double") / F.lit(float(_SEQ_BUDGET)))
        .alias("n_seqs"),
    )


def compact_manifest_view(spark: SparkSession, manifest_dir: str) -> None:
    """Fold the manifest's epoch history to one partial per shard
    (watermarked, like every store in this family)."""
    store.compact(spark, manifest_dir, _merge_manifest_partials)


def run_manifest_catchup(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    hash_store: str,
    band_store: str,
    verdict_dir: str,
    manifest_dir: str,
    checkpoint_dir: str,
    path_glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the landing dir (availableNow) through the curation +
    manifest handler; return the finalized merged manifest."""
    store.drain(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        handler=make_manifest_batch_handler(
            hash_store, band_store, verdict_dir, manifest_dir
        ),
        checkpoint_dir=checkpoint_dir,
        path_glob_filter=path_glob_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
    return merged_manifest(spark, manifest_dir)


def run_pricing_matview_catchup(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    view_dir: str,
    checkpoint_dir: str,
    path_glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the landing dir (availableNow) through the partial
    handler; return the finalized merged view."""
    return _run_catchup(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        sketch_dir=view_dir,
        checkpoint_dir=checkpoint_dir,
        partial_fn=pricing_partials,
        merge_fn=merged_pricing_view,
        path_glob_filter=path_glob_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
