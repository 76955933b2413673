"""Online near-duplicate detection: a streaming MinHash-LSH index.

The batch near-dup path (queries/textdata.py minhash_lsh_pairs) needs
the whole corpus; an INGEST pipeline wants the pairs as documents
arrive. Each micro-batch is MinHash-banded (the same 8-permutation /
4-band scheme as the batch query) and joined against the accumulated
band-key store — all previously-seen documents — and against itself,
emitting candidate pairs (doc_a < doc_b) incrementally; the batch's
band keys are then appended to the store.

Scale shape (designed for a store that dwarfs every micro-batch):

* **Per-band-key state bound** — the streaming twin of the batch
  ``_LSH_BUCKET_CAP`` (textdata.py): a band key whose stored member
  count would exceed the cap after this batch is *saturated* — the
  batch's rows on that key are dropped from both joins AND from the
  store append (drop-and-log, exactly the batch semantics of dropping
  oversize buckets). The store therefore never holds more than
  ``key_cap`` rows per band key, so every bucket join stays linear and
  emitted pairs per key are bounded for the stream's lifetime. A
  boilerplate-heavy stream (the classic hot-key near-dup workload)
  degrades to "key dropped + warning", never to a quadratic join.
* **Key-bucketed store layout** — the store is partitioned by
  ``_kb = hash(band,hx,hy) mod store_partitions`` (plus ``_epoch``),
  and each batch reads ONLY the ``_kb`` partitions its own keys touch
  (partition pruning): per-batch store I/O is proportional to the
  touched key-space fraction, not the full store.
* **The store never shuffles** — the batch side (tiny by
  construction) is broadcast into both the cross join and the
  saturation anti-join, so the accumulated store is scanned in place
  with no Exchange, whatever its size.
* The pairs and the band keys are epoch stores
  (:mod:`trx_spark.streaming.store`), so an at-least-once replay of a
  batch rewrites its own epoch instead of duplicating rows.

Equivalence (pinned by tests/test_streaming_dedup_index.py): when no
band key saturates, the distinct emitted pair set after the backlog
drains EQUALS the batch LSH pair set over the same documents. When a
key saturates mid-stream, pairs emitted before saturation persist (the
capped batch twin would drop the whole bucket) — the cap is a state
bound, not a retroactive delete; tests/test_streaming_dedup_index.py
pins the per-key store bound under a hot key.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trx_spark.streaming import store

logger = logging.getLogger(__name__)

# Streaming twin of textdata._LSH_BUCKET_CAP (import kept lazy there;
# the two are asserted equal in tests).
_STREAM_KEY_CAP = 64

# Hash-bucket partitions of the band store (a partition COLUMN, so the
# per-batch read prunes to touched buckets — cheap dirs at local scale,
# raise for a cluster store).
_STORE_PARTITIONS = 64

# Z-order cell of a band key's (hx, hy) MinHash pair: both hashes are
# uniform in [0, _P), quantized to _ZC_BITS each on that FIXED domain
# (no min/max scan) and Morton-interleaved — the same bit-interleave
# math as queries/layout.py, reused as the SECOND pruning dimension of
# the band store. ``_kb`` (the partition dir) prunes which buckets a
# batch reads; ``_zc`` (a DATA column the compaction clusters files
# by) prunes WITHIN a touched bucket at parquet min/max level: a
# z-clustered file covers a narrow (hx, hy) rectangle, so the
# ``_zc IN (batch cells)`` pushdown skips most of a big bucket's
# row groups where the flat layout reads all of them.
_ZC_BITS = 8


def band_z_cell() -> F.Column:
    """Morton cell of (hx, hy) on the fixed [0, _P) hash domain."""
    from trx_spark.queries.textdata import _P

    step = -(-_P // (1 << _ZC_BITS))  # ceil(domain / 2^bits)
    terms = []
    for b in range(_ZC_BITS):
        terms.append(f"((hx DIV {step} DIV {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((hy DIV {step} DIV {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band, hx, hy) for each document — the same signature
    scheme as the batch query (textdata.minhash_signatures + banding),
    as a column-level transform usable inside foreachBatch."""
    from trx_spark.queries.textdata import _MINHASH_COEF, _P, _TOKEN_RE, _tok_hash

    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    tids = F.transform(F.array_distinct(toks), _tok_hash)
    d = docs.filter(F.size(toks) > 0).withColumn("ids", tids)
    def affine(a, b):
        return lambda x: (F.lit(a) * x + F.lit(b)) % _P

    aggs = [
        F.array_min(F.transform(F.col("ids"), affine(a, b))).alias(f"mh{j}")
        for j, (a, b) in enumerate(_MINHASH_COEF)
    ]
    sig = d.select("doc_id", *aggs)
    return sig.selectExpr(
        "doc_id",
        "stack(4, 0, mh0, mh1, 1, mh2, mh3, 2, mh4, mh5, 3, mh6, mh7) AS (band, hx, hy)",
    )


def _read_band_store(spark: SparkSession, band_store: str) -> DataFrame | None:
    """Read the accumulated store; ``None`` only when nothing was
    written yet (see :func:`trx_spark.streaming.store.read`). Any other
    failure re-raises so the streaming query fails loudly instead of
    silently skipping the cross-batch join for a micro-batch (which
    would permanently lose those pairs: later batches never re-pair
    old docs against old docs).

    The read merges schemas so a MIXED-generation store (pre-upgrade
    epochs without _zc next to new epochs with it) always surfaces the
    column, regardless of which file Spark's single-file schema
    inference would have picked."""
    df = store.read(spark, band_store, merge_schema=True)
    if df is not None and {"hx", "hy"} <= set(df.columns) and "_zc" not in df.columns:
        # all-legacy store: derive the z-cell (a pure function of
        # (hx, hy)) so probes can filter uniformly.  In a MIXED
        # store the merged schema carries _zc and legacy rows read
        # it as NULL — left as-is here; probes go through zc_probe
        # (null-tolerant + recompute) and the compaction coalesces,
        # so the NULLs can never silently drop rows.
        df = df.withColumn("_zc", band_z_cell())
    return df


def zc_probe(df: DataFrame, touched_zc: list) -> DataFrame:
    """Filter a band store to a probe batch's z-cells, tolerating
    legacy rows (pre-upgrade epochs without a stored ``_zc``) that the
    merged-schema read surfaces as NULL.  The pushdown-friendly
    ``IN ... OR IS NULL`` disjunction stays on the STORED column, so
    parquet keeps both prunings: min/max envelopes skip z-disjoint row
    groups of new-generation files AND their zero null-counts prune
    the IsNull arm entirely; only legacy files (no z stats) are read
    in full.  Their cell is then recomputed (pure function of
    (hx, hy)) and the exact filter re-applied post-scan — a legacy row
    on a touched cell can never be silently dropped."""
    return (
        df.filter(F.col("_zc").isin(touched_zc) | F.col("_zc").isNull())
        .withColumn("_zc", F.coalesce(F.col("_zc"), band_z_cell()))
        .filter(F.col("_zc").isin(touched_zc))
    )


def drop_saturated_keys(
    new: DataFrame,
    seen: DataFrame | None,
    *,
    on: list[str],
    key_cap: int,
    epoch_id: int,
    what: str = "lsh index",
) -> DataFrame:
    """Per-band-key state bound shared by the LSH index and the
    streaming-curation handler: keys whose stored count would exceed
    the cap after this batch are SATURATED — the batch's rows on them
    are dropped from every join AND from the store append, so the
    store invariant (≤ key_cap rows per key) holds for the stream's
    lifetime (drop-and-log, the batch bucket-cap semantics). The
    saturated key set is collected ONCE (tiny: ≤ distinct keys in the
    batch) so the pruned store scan + count aggregation run a single
    time, not once per consumer."""
    spark = new.sparkSession
    bcnt = new.groupBy(*on).agg(F.count(F.lit(1)).alias("_bcnt"))
    if seen is not None:
        pcnt = seen.groupBy(*on).agg(F.count(F.lit(1)).alias("_pcnt"))
        totals = bcnt.join(pcnt, on, "left").withColumn(
            "_tot", F.col("_bcnt") + F.coalesce(F.col("_pcnt"), F.lit(0))
        )
    else:
        totals = bcnt.withColumn("_tot", F.col("_bcnt"))
    sat_rows = totals.filter(F.col("_tot") > key_cap).select(*on, "_bcnt").collect()
    if not sat_rows:
        return new
    logger.warning(
        "%s epoch %d: dropped %d rows on %d saturated band keys (cap=%d)",
        what,
        epoch_id,
        sum(r["_bcnt"] for r in sat_rows),
        len(sat_rows),
        key_cap,
    )
    # schema derived from the input's own key columns so a caller with
    # a different key set cannot silently desynchronize the anti-join
    sat = spark.createDataFrame(
        [tuple(r[c] for c in on) for r in sat_rows],
        new.select(*on).schema,
    )
    return new.join(F.broadcast(sat), on, "left_anti").localCheckpoint()


def make_lsh_batch_handler(
    band_store: str,
    pairs_dir: str,
    *,
    key_cap: int = _STREAM_KEY_CAP,
    store_partitions: int = _STORE_PARTITIONS,
):
    """foreachBatch handler: band the batch, pair it against the store
    and itself, append pairs and band keys (both epoch-idempotent).
    Per-band-key state is bounded by ``key_cap`` (see module doc)."""

    on = ["band", "hx", "hy"]
    kb = F.pmod(F.xxhash64("band", "hx", "hy"), F.lit(store_partitions))

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if store.absorbed(band_store, epoch_id):
            # replayed epoch already folded into _epoch=-1 (see
            # compact_band_store): its pairs/bands are in place
            return
        # No separate watermark gate for pairs_dir: pairs are written
        # BEFORE bands, so a crash-replay re-runs only epochs whose
        # band append is missing — if the pairs dir was independently
        # compacted first, the replayed epoch's pairs land twice (once
        # folded, once at _epoch=N), which the consumer's distinct()
        # collapses; the band-side saturation totals never read the
        # pairs dir, so no state is double-counted (contrast the
        # curation handler, whose BOTH sinks feed state and therefore
        # gate per-store).
        spark = batch.sparkSession
        new = (
            band_keys(batch)
            .withColumn("_kb", kb)
            .withColumn("_zc", band_z_cell())
            .localCheckpoint()
        )

        # Prune the store read to the hash buckets this batch touches
        # (dir-level on _kb) AND to the batch's z-cells (row-group-level
        # min/max pushdown on the z-clustered _zc column — see
        # band_z_cell / compact_band_store): ≤ store_partitions +
        # ≤ 4^_ZC_BITS small ints, driver-side by design. Rows this
        # epoch may have written in a FAILED earlier attempt are
        # excluded (filter on _epoch) so an at-least-once replay sees
        # the store exactly as the first attempt did — otherwise the
        # replay double-counts its own rows into the saturation totals
        # and can spuriously drop keys whose pairs the overwrite then
        # erases.
        touched_rows = new.select("_kb", "_zc").distinct().collect()
        touched = sorted({r["_kb"] for r in touched_rows})
        touched_zc = sorted({r["_zc"] for r in touched_rows})
        bstore = _read_band_store(spark, band_store)
        seen = (
            zc_probe(
                bstore.filter(
                    F.col("_kb").isin(touched)
                    & (F.col("_epoch") != int(epoch_id))
                ),
                touched_zc,
            ).drop("_epoch", "_kb", "_zc")
            if bstore is not None
            else None
        )

        ok = drop_saturated_keys(
            new, seen, on=on, key_cap=key_cap, epoch_id=epoch_id,
            what="lsh index",
        )

        # The batch side is small by construction — broadcast it so the
        # store side never shuffles.
        a = ok.alias("a")
        within = F.broadcast(ok.alias("b2")).join(a, on).filter(
            F.col("a.doc_id") < F.col("b2.doc_id")
        )
        pairs = within.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b")
        )
        if seen is not None:
            cross = F.broadcast(a).join(seen.alias("b"), on).filter(
                F.col("a.doc_id") != F.col("b.doc_id")
            )
            pairs = pairs.unionByName(
                cross.select(
                    F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                    F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
                )
            )
        store.write(pairs.distinct(), pairs_dir, epoch_id)
        store.write(ok, band_store, epoch_id, bucket="_kb")

    return handle


def compact_band_store(
    spark: SparkSession,
    band_store: str,
    *,
    store_partitions: int = _STORE_PARTITIONS,
    max_records_per_file: int | None = None,
) -> int:
    """Fold all committed epochs of the band store into the single
    compacted generation ``_epoch=-1`` while PRESERVING the ``_kb``
    hash-bucket layout (the partition-pruning index the per-batch read
    depends on) and Z-CLUSTERING each bucket's rows by the ``_zc``
    Morton cell of (hx, hy): files (and row groups) inside a bucket
    then carry narrow ``_zc`` min/max envelopes, so the per-batch
    probe's ``_zc IN (cells)`` filter prunes most of a large bucket
    instead of scanning all of it — both key dimensions prune, the
    queries/layout.py contract applied to the stream's own state.
    ``max_records_per_file`` bounds file size so a hot bucket splits
    into several z-narrow files (tests use a small value to make the
    file-level pruning measurable).

    After thousands of micro-batches the store's file count, not its
    byte size, is what kills scan planning. The fold, its watermark and
    its crash-safe swap are :func:`trx_spark.streaming.store.compact`'s;
    legacy rows get their ``_zc`` cell on the way. Returns the compacted
    row count (0 when nothing was written yet)."""

    def fold(s: SparkSession, d: str) -> DataFrame:
        # mixed-generation stores read pre-upgrade rows with NULL _zc:
        # re-materialize it so every folded row carries a real cell
        return (
            _read_band_store(s, d)
            .withColumn("_zc", F.coalesce(F.col("_zc"), band_z_cell()))
            .drop(store.EPOCH)
        )

    store.compact(
        spark, band_store, fold, sort=("_zc",), max_records_per_file=max_records_per_file
    )
    folded = store.read(spark, band_store)
    return 0 if folded is None else folded.count()


def run_lsh_dedup_catchup(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    band_store: str,
    pairs_dir: str,
    checkpoint_dir: str,
    path_glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
    key_cap: int = _STREAM_KEY_CAP,
) -> DataFrame:
    """Drain the landing dir (availableNow) through the streaming LSH
    index; returns the distinct accumulated pair set. Set
    ``max_files_per_trigger=1`` to force one micro-batch per file (the
    multi-wave arrival the equivalence test exercises)."""
    store.drain(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        handler=make_lsh_batch_handler(band_store, pairs_dir, key_cap=key_cap),
        checkpoint_dir=checkpoint_dir,
        path_glob_filter=path_glob_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
    pairs = store.read(spark, pairs_dir)
    if pairs is None:
        # no candidate pair was ever emitted: an explicitly-typed
        # empty pair set instead of a read-time failure
        return spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    return pairs.select("doc_a", "doc_b").distinct()
