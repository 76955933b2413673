"""Online LSH dedup index.

* With no key saturation, pairs found incrementally across waves equal
  the batch LSH pair set over the same corpus (the streaming/batch
  equivalence the module docstring pins).
* With the default cap, the result is sandwiched: capped-batch ⊆
  streaming ⊆ uncapped-batch (pairs emitted before a key saturates
  persist; the store never exceeds the cap).
* A hot band key (identical texts — the boilerplate-heavy stream) is
  bounded: per-key store rows ≤ cap, emitted pairs stop growing.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from trx_spark.streaming.dedup_index import (
    _STREAM_KEY_CAP,
    band_keys,
    run_lsh_dedup_catchup,
)
from trx_spark.tables import load_table


def _batch_pairs(spark, docs, cap=None):
    # reference implementation: the batch banding self-join; cap=None
    # → uncapped, else buckets above cap dropped (batch semantics)
    b = band_keys(docs).localCheckpoint()
    if cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "hx", "hy")
        b = (
            b.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= cap)
            .drop("_bsz")
        )
    a = b.alias("a")
    c = b.alias("c")
    return {
        (r["doc_a"], r["doc_b"])
        for r in (
            a.join(c, ["band", "hx", "hy"])
            .filter(F.col("a.doc_id") < F.col("c.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
            .distinct()
            .collect()
        )
    }


def _write_waves(tmp_path, frames):
    waves = tmp_path / "landing"
    waves.mkdir()
    for k, pdf in enumerate(frames):
        pq.write_table(pa.Table.from_pandas(pdf), waves / f"w{k}.parquet")
    return waves


def _run(spark, tmp_path, waves, schema, **kw):
    return run_lsh_dedup_catchup(
        spark,
        landing_dir=str(waves),
        schema=schema,
        band_store=str(tmp_path / "bands"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        path_glob_filter="*.parquet",
        max_files_per_trigger=1,
        **kw,
    )


def test_cap_mirrors_batch_cap():
    from trx_spark.queries.textdata import _LSH_BUCKET_CAP

    assert _STREAM_KEY_CAP == _LSH_BUCKET_CAP


def test_streaming_lsh_pairs_equal_batch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # two arrival waves -> two micro-batches (maxFilesPerTrigger=1);
    # plain files (not directories) so the file source discovers them.
    # key_cap raised past the largest bucket → no saturation → exact
    # equality with the uncapped batch twin.
    waves = _write_waves(
        tmp_path,
        [docs.filter(p).toPandas() for p in ("doc_id % 2 = 0", "doc_id % 2 = 1")],
    )
    got = _run(spark, tmp_path, waves, docs.schema, key_cap=1_000_000)
    streaming_pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    assert streaming_pairs == _batch_pairs(spark, docs)
    assert len(streaming_pairs) > 0


def test_streaming_lsh_capped_sandwich(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    waves = _write_waves(
        tmp_path,
        [docs.filter(p).toPandas() for p in ("doc_id % 2 = 0", "doc_id % 2 = 1")],
    )
    got = _run(spark, tmp_path, waves, docs.schema)  # default cap
    streaming_pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    uncapped = _batch_pairs(spark, docs)
    capped = _batch_pairs(spark, docs, cap=_STREAM_KEY_CAP)
    # sf0.001 has buckets above the cap, so the sandwich is strict on
    # at least one side
    assert capped <= streaming_pairs <= uncapped
    assert len(streaming_pairs) < len(uncapped)
    # the store invariant: never more than cap rows per band key
    store = spark.read.parquet(str(tmp_path / "bands"))
    mx = (
        store.groupBy("band", "hx", "hy")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert mx <= _STREAM_KEY_CAP


def test_streaming_lsh_hot_key_bounded(spark, tmp_path):
    import pandas as pd

    # 90 identical texts (one hot bucket per band) in 3 waves of 30:
    # waves 1+2 fit under the cap (30, then 60), wave 3 would overflow
    # (90 > 64) → dropped-and-logged; the store holds 60 per key and
    # pairs stop at C(60,2).
    text = "the quick brown fox jumps over the lazy dog again and again"
    frames = [
        pd.DataFrame({"doc_id": range(k * 30, (k + 1) * 30), "text": [text] * 30})
        for k in range(3)
    ]
    waves = _write_waves(tmp_path, frames)
    got = _run(spark, tmp_path, waves, "doc_id BIGINT, text STRING")
    pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    assert len(pairs) == 60 * 59 // 2
    store = spark.read.parquet(str(tmp_path / "bands"))
    per_key = store.groupBy("band", "hx", "hy").agg(F.count(F.lit(1)).alias("n"))
    assert per_key.agg(F.max("n")).collect()[0][0] <= _STREAM_KEY_CAP
    # only the 60 pre-saturation docs are in the store
    assert store.select("doc_id").distinct().count() == 60


def test_streaming_lsh_no_pairs_returns_empty(spark, tmp_path):
    import pandas as pd

    # every doc a unique single token → singleton buckets → zero pairs;
    # the guarded final read must return a typed empty frame, not raise
    frames = [
        pd.DataFrame(
            {"doc_id": range(8), "text": [f"uniquetoken{c}" for c in "abcdefgh"]}
        )
    ]
    waves = _write_waves(tmp_path, frames)
    got = _run(spark, tmp_path, waves, "doc_id BIGINT, text STRING")
    assert got.columns == ["doc_a", "doc_b"]
    assert got.count() == 0


def test_band_store_compaction_preserves_index(spark, sf_dir, tmp_path):
    """compact_band_store folds epochs into _epoch=-1, keeps the _kb
    hash-bucket dirs, and the handler keeps finding cross-batch pairs
    against the compacted store."""
    import os

    from trx_spark.streaming.dedup_index import (
        compact_band_store,
        make_lsh_batch_handler,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    waves = _write_waves(
        tmp_path,
        [docs.filter(p).toPandas() for p in ("doc_id % 3 = 0", "doc_id % 3 = 1")],
    )
    got = _run(spark, tmp_path, waves, docs.schema, key_cap=1_000_000)
    before = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    store = str(tmp_path / "bands")
    rows_before = spark.read.parquet(store).count()
    n = compact_band_store(spark, store)
    assert n == rows_before
    # layout: single folded epoch, _kb dirs intact underneath
    epochs = sorted(e for e in os.listdir(store) if e.startswith("_epoch="))
    assert epochs == ["_epoch=-1"]
    assert any(
        d.startswith("_kb=") for d in os.listdir(os.path.join(store, "_epoch=-1"))
    )
    # a later batch still pairs against the compacted store
    handler = make_lsh_batch_handler(store, str(tmp_path / "pairs"), key_cap=1_000_000)
    handler(docs.filter("doc_id % 3 = 2"), 99)
    got2 = spark.read.parquet(str(tmp_path / "pairs")).select("doc_a", "doc_b").distinct()
    after = {(r["doc_a"], r["doc_b"]) for r in got2.collect()}
    assert after == _batch_pairs(spark, docs)
    assert after > before


def test_mixed_generation_band_store_reads_legacy_rows(spark, sf_dir, tmp_path):
    """A store holding pre-upgrade epochs (written before the _zc
    column existed) next to new epochs must still pair new docs against
    the LEGACY rows: the read recomputes _zc for them (pure function of
    (hx, hy)) instead of letting schema-merge NULLs fall out of the
    probe's `_zc IN (...)` filter — which would permanently lose those
    cross-batch pairs with no error."""
    import os

    from trx_spark.streaming.dedup_index import (
        compact_band_store,
        make_lsh_batch_handler,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "bands")
    handler = make_lsh_batch_handler(
        store, str(tmp_path / "pairs"), key_cap=1_000_000
    )
    handler(docs.filter("doc_id % 3 = 0"), 0)
    # strip _zc from epoch 0's files in place: the pre-r8 on-disk layout
    stripped = 0
    for root, _dirs, files in os.walk(os.path.join(store, "_epoch=0")):
        for f in files:
            p = os.path.join(root, f)
            if f.startswith(".") and f.endswith(".crc"):
                os.remove(p)  # stale Hadoop local-FS checksum sidecars
                continue
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(p)
            assert "_zc" in t.column_names
            pq.write_table(t.drop(["_zc"]), p)
            stripped += 1
    assert stripped > 0
    handler(docs.filter("doc_id % 3 = 1"), 1)  # probes the all-legacy store
    handler(docs.filter("doc_id % 3 = 2"), 2)  # probes the MIXED store
    got = (
        spark.read.parquet(str(tmp_path / "pairs"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    assert pairs == _batch_pairs(spark, docs)
    # compaction folds the mixed store and re-materializes _zc for
    # every row — the legacy generation disappears
    compact_band_store(spark, store)
    folded = spark.read.parquet(store)
    assert folded.filter(F.col("_zc").isNull()).count() == 0
    assert folded.count() == band_keys(docs).count()


def test_first_batch_fully_saturated_then_recovers(spark, tmp_path):
    """A first micro-batch whose every key saturates writes an empty
    store (dir with only _SUCCESS); the next batch must treat it as
    empty — not crash on schema inference — and keep indexing."""
    import pandas as pd

    from trx_spark.streaming.dedup_index import make_lsh_batch_handler

    hot = "the quick brown fox jumps over the lazy dog again and again"
    handler = make_lsh_batch_handler(
        str(tmp_path / "bands"), str(tmp_path / "pairs")
    )
    # 100 identical docs > cap 64 -> everything dropped, store empty
    handler(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(100), "text": [hot] * 100})
        ),
        0,
    )
    # a normal batch afterwards must work and emit its within-pairs
    handler(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [200, 201], "text": ["alpha beta gamma"] * 2})
        ),
        1,
    )
    pairs = spark.read.parquet(str(tmp_path / "pairs")).select("doc_a", "doc_b").distinct()
    assert {(r[0], r[1]) for r in pairs.collect()} == {(200, 201)}


def test_replay_same_epoch_is_idempotent(spark, tmp_path):
    """At-least-once replay: re-running an epoch (same data, same id)
    must not double-count its own rows into the saturation totals —
    pairs and store end up exactly as after the first attempt."""
    import pandas as pd

    from pyspark.sql import functions as F

    from trx_spark.streaming.dedup_index import make_lsh_batch_handler

    text = "the quick brown fox jumps over the lazy dog again and again"
    handler = make_lsh_batch_handler(
        str(tmp_path / "bands"), str(tmp_path / "pairs")
    )
    # epoch 0: 40 docs on the hot key (under cap 64, all stored)
    handler(
        spark.createDataFrame(pd.DataFrame({"doc_id": range(40), "text": [text] * 40})),
        0,
    )
    # epoch 1: 20 more (40 + 20 = 60 <= 64, all stored) — run it TWICE
    e1 = pd.DataFrame({"doc_id": range(40, 60), "text": [text] * 20})
    handler(spark.createDataFrame(e1), 1)
    handler(spark.createDataFrame(e1), 1)  # the replay
    # the replay must not see its own epoch-1 rows as prior state
    # (40 prior + 20 batch = 60, not 60 + 20 = 80 > cap)
    pairs = spark.read.parquet(str(tmp_path / "pairs")).select("doc_a", "doc_b").distinct()
    assert pairs.count() == 60 * 59 // 2
    store = spark.read.parquet(str(tmp_path / "bands"))
    per_key = store.groupBy("band", "hx", "hy").agg(F.count(F.lit(1)).alias("n"))
    assert per_key.agg(F.max("n")).collect()[0][0] == 60


def test_replay_of_folded_epoch_is_skipped(spark, tmp_path):
    """Crash-replay after band-store compaction: once an epoch's band
    keys are folded into _epoch=-1, the handler's own-epoch filter can
    no longer exclude them — a replay would double-count them into the
    saturation totals and double-store the keys. The compaction
    watermark makes the replayed epoch a no-op."""
    from trx_spark.streaming.dedup_index import (
        compact_band_store,
        make_lsh_batch_handler,
    )
    from trx_spark.streaming.store import compacted_through

    band_store = str(tmp_path / "bands")
    pairs_dir = str(tmp_path / "pairs")
    handler = make_lsh_batch_handler(band_store, pairs_dir)
    text = (
        "a perfectly ordinary document about detectors and beamlines "
        "carrying enough distinct tokens to produce stable band keys"
    )
    batch = spark.createDataFrame(
        [(1, text, "s", "en", len(text)), (2, text + " tail", "s", "en", 5)],
        "doc_id LONG, text STRING, source STRING, lang STRING, n_chars LONG",
    )
    handler(batch, 0)
    before = spark.read.parquet(band_store).drop("_epoch").orderBy(
        "doc_id", "band"
    ).collect()
    compact_band_store(spark, band_store)
    assert compacted_through(band_store) == 0
    # replay of the folded epoch: band store unchanged (no duplicate rows)
    handler(batch, 0)
    after = spark.read.parquet(band_store).drop("_epoch").orderBy(
        "doc_id", "band"
    ).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # a NEW epoch still processes and appends
    batch2 = spark.createDataFrame(
        [(3, text, "s", "en", len(text))],
        "doc_id LONG, text STRING, source STRING, lang STRING, n_chars LONG",
    )
    handler(batch2, 1)
    assert spark.read.parquet(band_store).count() > len(before)


def test_compaction_z_clustering_prunes_files(spark, sf_dir, tmp_path):
    """The z-clustered compaction's measured payoff: for a probe
    batch's (_kb, _zc) key set, min/max file pruning on the _zc column
    reads STRICTLY fewer files than the flat (unsorted, single file
    per bucket) layout reads from the same touched _kb dirs — the
    second pruning dimension the compaction exists to buy. Pruning is
    emulated exactly as parquet does it (a file is scanned iff its
    [min, max] envelope intersects a probe value), the
    layout_scan_savings methodology over the stream's own state."""
    from trx_spark.streaming.dedup_index import (
        band_z_cell,
        compact_band_store,
        make_lsh_batch_handler,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "bands")
    handler = make_lsh_batch_handler(
        store, str(tmp_path / "pairs"), key_cap=1_000_000
    )
    handler(docs.filter("doc_id % 3 != 2"), 1)
    compact_band_store(spark, store, max_records_per_file=2)

    # per-file z envelopes of the compacted store
    files = (
        spark.read.parquet(store)
        .withColumn("f", F.input_file_name())
        .groupBy("_kb", "f")
        .agg(F.min("_zc").alias("z0"), F.max("_zc").alias("z1"))
        .collect()
    )
    per_kb: dict = {}
    for r in files:
        per_kb.setdefault(r["_kb"], []).append((r["z0"], r["z1"]))
    assert any(len(v) > 1 for v in per_kb.values()), "fixture must split files"
    # z-sorted writes → files within a bucket do not overlap in z
    for spans in per_kb.values():
        spans.sort()
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 <= b0

    # probe: one later batch's touched (kb, zc) set
    probe = (
        band_keys(docs.filter("doc_id % 3 = 2"))
        .withColumn(
            "_kb", F.pmod(F.xxhash64("band", "hx", "hy"), F.lit(64))
        )
        .withColumn("_zc", band_z_cell())
        .select("_kb", "_zc")
        .distinct()
        .collect()
    )
    probe_cells: dict = {}
    for r in probe:
        probe_cells.setdefault(r["_kb"], set()).add(r["_zc"])

    scanned_z = sum(
        1
        for r in files
        if r["_kb"] in probe_cells
        and any(r["z0"] <= z <= r["z1"] for z in probe_cells[r["_kb"]])
    )
    scanned_flat = sum(1 for r in files if r["_kb"] in probe_cells)
    assert scanned_z < scanned_flat, (scanned_z, scanned_flat)
    assert scanned_z >= 1

    # equivalence is untouched by the layout: the probe batch still
    # finds exactly the batch pair set
    handler(docs.filter("doc_id % 3 = 2"), 2)
    got = (
        spark.read.parquet(str(tmp_path / "pairs"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    assert {
        (r["doc_a"], r["doc_b"]) for r in got.collect()
    } == _batch_pairs(spark, docs)
