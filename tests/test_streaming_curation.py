"""Streaming curation ≡ first-seen-wins reference. Waves arrive in
doc_id order (one micro-batch per file), so arrival order = doc_id
order; the Python reference replays the identical rules (quality ∧
exact-first ∧ no band-key match to any earlier doc) using the SAME
primitives (batch quality_signals / band_keys / md5) and must produce
the identical verdict set."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from trx_spark.queries.corpus import quality_signals
from trx_spark.streaming.curation import run_curation_catchup
from trx_spark.streaming.dedup_index import band_keys

_SCHEMA = "doc_id LONG, text STRING, source STRING, lang STRING, n_chars LONG"

_GOOD = (
    "the experiment ran smoothly and the detector collected many frames "
    "while the sample rotated under the beam producing useful scattering "
    "data for the analysis team to reduce and archive carefully"
)
_GOOD2 = (
    "a completely different document about storage rings and insertion "
    "devices where undulators produce brilliant beams used to probe "
    "matter at atomic resolution across many scientific disciplines"
)


def _docs():
    # wave 1: two good docs + a short (quality-fail) doc
    w1 = [(1, _GOOD, "s", "en"), (2, _GOOD2, "s", "en"), (3, "too short", "s", "en")]
    # wave 2: exact dup of 1, near-dup of 2 (one word changed), new doc
    near2 = _GOOD2.replace("atomic", "nuclear")
    w2 = [
        (10, _GOOD, "s", "en"),
        (11, near2, "s", "en"),
        (12, _GOOD + " with a freshly appended tail of extra words here", "s", "en"),
    ]
    # wave 3: exact dup arriving again + dup within the same batch
    closing = (
        "finally the beamtime ended and the shutters closed while the crew "
        "packed equipment and wrote the report summarizing every scan with "
        "its settings so future visits could reproduce the whole procedure"
    )
    w3 = [(20, _GOOD2, "s", "en"), (21, closing, "s", "en"), (22, closing, "s", "en")]
    return [w1, w2, w3]


def _reference(spark, waves):
    rows = [r for w in waves for r in w]
    df = spark.createDataFrame(
        [(d, t, s, l, len(t)) for d, t, s, l in rows], _SCHEMA
    )
    quality = {r["doc_id"]: r["keep"] for r in quality_signals(df).collect()}
    bands: dict[int, set] = {d: set() for d, *_ in rows}
    for r in band_keys(df).collect():
        bands[r["doc_id"]].add((r["band"], r["hx"], r["hy"]))
    seen_h: set[str] = set()
    seen_b: set = set()
    out = {}
    for d, t, *_ in sorted(rows):
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        exact_first = h not in seen_h
        near = bool(bands[d] & seen_b)
        out[d] = (quality[d], exact_first, near,
                  quality[d] and exact_first and not near)
        seen_h.add(h)
        seen_b |= bands[d]
    return out


def test_streaming_matches_first_seen_reference(spark, tmp_path):
    waves = _docs()
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, w in enumerate(waves):
        spark.createDataFrame(
            [(d, t, s, l, len(t)) for d, t, s, l in w], _SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(landing / f"wave{i}"))

    got_df = run_curation_catchup(
        spark,
        landing_dir=str(landing / "wave*"),
        schema=_SCHEMA,
        hash_store=str(tmp_path / "hashes"),
        band_store=str(tmp_path / "bands"),
        verdict_dir=str(tmp_path / "verdicts"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    got = {
        r["doc_id"]: (r["quality_keep"], r["exact_first"], r["near_dup"], r["keep"])
        for r in got_df.collect()
    }
    want = _reference(spark, waves)
    assert got == want
    # sanity on the fixture's intent
    assert want[1][3] and want[2][3]          # originals kept
    assert not want[3][0]                     # quality reject
    assert not want[10][1]                    # exact dup dropped
    assert want[11][2] and not want[11][3]    # near-dup dropped
    assert not want[20][3]                    # late exact dup dropped
    assert want[21][3] and not want[22][3]    # within-batch dup: first wins


def test_hot_key_state_bounded(spark, tmp_path):
    """A boilerplate flood (identical text, so exact-dup catches every
    doc after the first) must keep per-band-key state bounded: the
    band store saturates at the cap and later batches drop the key
    (the verdicts stay correct — exact-first still rejects them)."""
    from pyspark.sql import functions as F

    from trx_spark.streaming.dedup_index import _STREAM_KEY_CAP

    text = (
        "the same boilerplate paragraph arrives over and over from a "
        "templated mirror site flooding the ingest stream with copies "
        "that carry no new information yet consume bandwidth storage "
        "and compute until the curation layer learns to turn them away"
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    for k in range(3):
        spark.createDataFrame(
            [(k * 30 + i, text, "s", "en", len(text)) for i in range(30)], _SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(landing / f"wave{k}"))

    got = run_curation_catchup(
        spark,
        landing_dir=str(landing / "wave*"),
        schema=_SCHEMA,
        hash_store=str(tmp_path / "hashes"),
        band_store=str(tmp_path / "bands"),
        verdict_dir=str(tmp_path / "verdicts"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    kept = [r["doc_id"] for r in got.filter(F.col("keep")).collect()]
    assert kept == [0]  # first-seen only
    store = spark.read.parquet(str(tmp_path / "bands"))
    per_key = store.groupBy("band", "hx", "hy").agg(F.count(F.lit(1)).alias("n"))
    assert per_key.agg(F.max("n")).collect()[0][0] <= _STREAM_KEY_CAP
    # the exact-hash store is bounded by DISTINCT hash count: 90 copies
    # of one text must leave exactly one stored row, not 90
    hstore = spark.read.parquet(str(tmp_path / "hashes"))
    assert hstore.count() == 1


def test_replay_after_single_store_compaction(spark, tmp_path):
    """Crash-replay with INDEPENDENT store compaction: epoch 1 appended
    its hashes but crashed before the band append; an operator then
    compacted only the hash store (folding epoch 1 into _epoch=-1 and
    advancing ITS watermark). The replay must still run the band leg —
    an all-or-nothing skip on max(watermarks) would permanently lose
    epoch 1's band keys, so later near-dups of its docs would go
    undetected — while leaving the already-written verdicts and the
    folded hash store untouched."""
    import shutil

    from pyspark.sql import functions as F

    from trx_spark.sources.sinks import compact_store
    from trx_spark.streaming.curation import make_curation_batch_handler

    hash_store = str(tmp_path / "hashes")
    band_store = str(tmp_path / "bands")
    verdict_dir = str(tmp_path / "verdicts")
    handler = make_curation_batch_handler(hash_store, band_store, verdict_dir)

    def wave(rows):
        return spark.createDataFrame(
            [(d, t, "s", "en", len(t)) for d, t in rows], _SCHEMA
        )

    handler(wave([(1, _GOOD)]), 0)
    handler(wave([(10, _GOOD2)]), 1)
    # crash window: epoch 1's band append is lost, hashes + verdict kept
    shutil.rmtree(str(tmp_path / "bands" / "_epoch=1"))
    compact_store(spark, hash_store, partition_by="_epoch")

    # restart: the streaming checkpoint replays epoch 1
    handler(wave([(10, _GOOD2)]), 1)

    # the band leg ran: epoch 1's band keys are back in the store
    restored = (
        spark.read.parquet(band_store)
        .filter(F.col("_epoch") == 1)
        .count()
    )
    assert restored > 0
    # the folded hash store was NOT double-appended (1 distinct row per
    # text) and the epoch-1 verdict survived unchanged
    assert spark.read.parquet(hash_store).select("h").distinct().count() == 2
    assert spark.read.parquet(hash_store).count() == 2
    v = {
        r["doc_id"]: (r["quality_keep"], r["exact_first"], r["near_dup"], r["keep"])
        for r in spark.read.parquet(verdict_dir).collect()
    }
    assert v[10] == (True, True, False, True)

    # and a later near-dup of the replayed doc IS detected
    near = _GOOD2.replace("atomic", "nuclear")
    handler(wave([(20, near)]), 2)
    v2 = {
        r["doc_id"]: r["near_dup"]
        for r in spark.read.parquet(verdict_dir).collect()
    }
    assert v2[20] is True


def test_empty_landing_returns_typed_empty(spark, tmp_path):
    """Catch-up before any documents land must return an explicitly
    typed empty verdict frame, not crash at the verdict read."""
    (tmp_path / "landing").mkdir()
    got = run_curation_catchup(
        spark,
        landing_dir=str(tmp_path / "landing" / "wave*"),
        schema=_SCHEMA,
        hash_store=str(tmp_path / "hashes"),
        band_store=str(tmp_path / "bands"),
        verdict_dir=str(tmp_path / "verdicts"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert got.count() == 0
    assert got.columns == ["doc_id", "quality_keep", "exact_first", "near_dup", "keep"]


def test_handler_jobs_carry_the_callers_job_group(spark, tmp_path):
    """The overlapped legs and appends run in pool threads; each thread
    inherits the caller's job group, so cancelling that group (what
    ``query.stop()`` does to a stream's micro-batch) reaches every job
    the handler starts — none runs ungrouped."""
    from trx_spark.streaming.curation import make_curation_batch_handler

    handler = make_curation_batch_handler(
        str(tmp_path / "hashes"), str(tmp_path / "bands"), str(tmp_path / "verdicts")
    )

    def wave(rows):
        return spark.createDataFrame(
            [(d, t, "s", "en", len(t)) for d, t in rows], _SCHEMA
        )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "curation-handler-job-group"
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "every handler job carries this group")
    try:
        handler(wave([(1, _GOOD), (2, _GOOD2)]), 0)
        handler(wave([(10, _GOOD), (11, _GOOD2.replace("atomic", "nuclear"))]), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
