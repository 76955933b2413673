"""Streaming count-min sketch: multi-wave merge equals the batch
sketch (mergeability), per-epoch state is bounded at d·w cells, and
compaction preserves the merged sketch."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pandas as pd

from trx_spark.queries.curation import _CMS_COEF, _CMS_W
from trx_spark.streaming.sketch import (
    _batch_cells,
    compact_cms_store,
    merged_sketch,
    run_cms_catchup,
)
from trx_spark.tables import load_table


def _write_waves(tmp_path, frames):
    waves = tmp_path / "landing"
    waves.mkdir()
    for k, pdf in enumerate(frames):
        pdf = pdf.copy()
        for c in pdf.columns:
            # pandas upcasts parquet micros to ns; writing ns back would
            # produce TIMESTAMP(NANOS) files that clash with the
            # original TIMESTAMP_NTZ(micros) schema the stream declares
            if str(pdf[c].dtype).startswith("datetime64"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), waves / f"w{k}.parquet")
    return waves


def _sketch_dict(df):
    return {r["cell"]: r["c"] for r in df.collect()}


def test_multiwave_equals_batch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas()
    thirds = [pdf.iloc[i::3].reset_index(drop=True) for i in range(3)]
    waves = _write_waves(tmp_path, thirds)

    merged = run_cms_catchup(
        spark,
        landing_dir=str(waves),
        schema="doc_id BIGINT, text STRING",
        sketch_dir=str(tmp_path / "sketch"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # one micro-batch per wave
    )
    want = _sketch_dict(_batch_cells(docs))
    got = _sketch_dict(merged)
    assert got == want

    # per-epoch state bound: every epoch partial holds ≤ d·w rows
    store = spark.read.parquet(str(tmp_path / "sketch"))
    sizes = {
        r["_epoch"]: r["n"]
        for r in store.groupBy("_epoch").count().withColumnRenamed("count", "n").collect()
    }
    assert len(sizes) == 3
    assert all(n <= len(_CMS_COEF) * _CMS_W for n in sizes.values())


def test_compaction_preserves_sketch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas()
    waves = _write_waves(
        tmp_path, [pdf.iloc[: len(pdf) // 2], pdf.iloc[len(pdf) // 2 :]]
    )
    sketch_dir = str(tmp_path / "sketch")
    run_cms_catchup(
        spark,
        landing_dir=str(waves),
        schema="doc_id BIGINT, text STRING",
        sketch_dir=sketch_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    before = _sketch_dict(merged_sketch(spark, sketch_dir))
    compact_cms_store(spark, sketch_dir)
    after = _sketch_dict(merged_sketch(spark, sketch_dir))
    assert after == before
    # history folded to one partial of ≤ d·w rows
    assert spark.read.parquet(sketch_dir).count() <= len(_CMS_COEF) * _CMS_W


def test_compact_then_continue_and_replay(spark, sf_dir, tmp_path):
    """The live-stream scenarios the layout + watermark must survive:
    (a) compaction mid-stream, then MORE epochs land next to the folded
    partial (layouts coexist); (b) an at-least-once REPLAY of an epoch
    that compaction already absorbed is a no-op, never a double-count."""
    from trx_spark.streaming.sketch import make_partial_handler

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas()
    third = len(pdf) // 3
    b1 = spark.createDataFrame(pdf.iloc[:third])
    b2 = spark.createDataFrame(pdf.iloc[third : 2 * third])
    b3 = spark.createDataFrame(pdf.iloc[2 * third :])

    sketch_dir = str(tmp_path / "sketch")
    handle = make_partial_handler(sketch_dir, _batch_cells)
    handle(b1, 0)
    handle(b2, 1)
    compact_cms_store(spark, sketch_dir)

    # (b) replay of an absorbed epoch: merged sketch unchanged
    before = _sketch_dict(merged_sketch(spark, sketch_dir))
    handle(b1, 0)
    assert _sketch_dict(merged_sketch(spark, sketch_dir)) == before

    # (a) a new epoch lands after compaction: read still works and the
    # merged sketch equals the batch sketch of everything
    handle(b3, 2)
    want = _sketch_dict(_batch_cells(docs))
    assert _sketch_dict(merged_sketch(spark, sketch_dir)) == want

    # (c) the watermark never regresses: compacting twice with no new
    # epochs in between must NOT lower the watermark (a lowered
    # marker would re-enable replay double-counting)
    from trx_spark.streaming.store import compacted_through

    compact_cms_store(spark, sketch_dir)
    assert compacted_through(sketch_dir) == 2
    compact_cms_store(spark, sketch_dir)  # store now holds only _epoch=-1
    assert compacted_through(sketch_dir) == 2
    handle(b2, 1)  # replay of an absorbed epoch stays a no-op
    assert _sketch_dict(merged_sketch(spark, sketch_dir)) == want


def test_hll_multiwave_equals_batch(spark, sf_dir, tmp_path):
    """HLL twin: register-wise MAX across waves equals the batch
    register table (max-merge mergeability, end to end through the
    streaming harness)."""
    from trx_spark.streaming.sketch import _batch_hll_registers, run_hll_catchup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas()
    thirds = [pdf.iloc[i::3].reset_index(drop=True) for i in range(3)]
    waves = _write_waves(tmp_path, thirds)

    merged = run_hll_catchup(
        spark,
        landing_dir=str(waves),
        schema="doc_id BIGINT, text STRING",
        sketch_dir=str(tmp_path / "sketch"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    want = {r["reg"]: r["rmax"] for r in _batch_hll_registers(docs).collect()}
    got = {r["reg"]: r["rmax"] for r in merged.collect()}
    assert got == want
    from trx_spark.queries.sketches import _HLL_M

    assert len(got) <= _HLL_M


def test_kmv_multiwave_equals_batch_and_compacts(spark, sf_dir, tmp_path):
    """KMV twin: the K smallest distinct values per source across waves
    equal the batch K-min sketch (order-statistic mergeability), the
    per-epoch partials are bounded at sources·K rows, and compaction
    preserves the merged sketch."""
    from trx_spark.queries.sketches import _KMV_K
    from trx_spark.streaming.sketch import (
        _batch_kmv_partial,
        compact_kmv_store,
        merged_kmv_sketch,
        run_kmv_catchup,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    pdf = docs.toPandas()
    thirds = [pdf.iloc[i::3].reset_index(drop=True) for i in range(3)]
    waves = _write_waves(tmp_path, thirds)

    sketch_dir = str(tmp_path / "sketch")
    merged = run_kmv_catchup(
        spark,
        landing_dir=str(waves),
        schema="doc_id BIGINT, source STRING, text STRING",
        sketch_dir=sketch_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    want = {(r["source"], r["h"]) for r in _batch_kmv_partial(docs).collect()}
    got = {(r["source"], r["h"]) for r in merged.collect()}
    assert got == want

    # per-epoch bound: ≤ sources·K rows per partial
    store = spark.read.parquet(sketch_dir)
    n_src = docs.select("source").distinct().count()
    for r in store.groupBy("_epoch").count().collect():
        assert r["count"] <= n_src * _KMV_K

    before = {(r["source"], r["h"]) for r in merged_kmv_sketch(spark, sketch_dir).collect()}
    compact_kmv_store(spark, sketch_dir)
    after = {(r["source"], r["h"]) for r in merged_kmv_sketch(spark, sketch_dir).collect()}
    assert after == before == want
    assert spark.read.parquet(sketch_dir).count() <= n_src * _KMV_K


def test_matview_multiwave_equals_batch(spark, sf_dir, tmp_path):
    """Incremental view maintenance: per-epoch mergeable partials of
    the pricing aggregation, drained over 3 waves, equal the batch
    query bit-for-bit — and compaction mid-history preserves the view."""
    from trx_spark.queries.relational import pricing_summary
    from trx_spark.streaming.matview import (
        compact_pricing_view,
        merged_pricing_view,
        run_pricing_matview_catchup,
    )

    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pdf = raw.toPandas()
    thirds = [pdf.iloc[i::3].reset_index(drop=True) for i in range(3)]
    waves = _write_waves(tmp_path, thirds)

    view_dir = str(tmp_path / "view")
    got = run_pricing_matview_catchup(
        spark,
        landing_dir=str(waves),
        schema=raw.schema,
        view_dir=view_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    want = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in pricing_summary(spark, sf_dir).collect()
    }
    rows = got.collect()
    assert len(rows) == len(want)
    for r in rows:
        w = want[(r["l_returnflag"], r["l_linestatus"])]
        for c in ("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
                  "avg_qty", "avg_price", "avg_disc", "count_order"):
            assert r[c] == w[c], (c, r[c], w[c])

    before = {tuple(r) for r in merged_pricing_view(spark, view_dir).collect()}
    compact_pricing_view(spark, view_dir)
    after = {tuple(r) for r in merged_pricing_view(spark, view_dir).collect()}
    assert after == before


def test_empty_batch_wave(spark, sf_dir, tmp_path):
    """A wave with zero token-bearing docs contributes an empty partial
    without corrupting the merge."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas()
    empty = pd.DataFrame({"doc_id": [999999], "text": ["12345 67890"]})  # no [a-z]+
    waves = _write_waves(tmp_path, [pdf, empty])
    merged = run_cms_catchup(
        spark,
        landing_dir=str(waves),
        schema="doc_id BIGINT, text STRING",
        sketch_dir=str(tmp_path / "sketch"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert _sketch_dict(merged) == _sketch_dict(_batch_cells(docs))


def test_mg_two_catchup_waves_equal_batch_fold(spark, sf_dir, tmp_path):
    """MG heavy hitters across SEPARATE catch-up runs: the first wave
    lands batches 0-1, a second catch-up (same checkpoint + store)
    picks up batches 2-3 later — the merged summary equals the batch
    gate's fold of the full corpus bit-for-bit (batch-keyed partials
    make delivery timing irrelevant)."""
    import os

    from pyspark.sql import functions as F

    from trx_spark.queries.mgsketch import (
        _MG_B,
        heavy_hitters_mg,
        mg_batch_partials,
        mg_fold,
    )
    from trx_spark.streaming.sketch import run_mg_catchup
    from trx_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    landing = tmp_path / "landing"
    landing.mkdir()

    def land(b):
        tmp = tmp_path / f"w{b}"
        (
            docs.filter(F.col("doc_id") % _MG_B == b)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp))
        )
        import glob as _glob

        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        os.rename(part, str(landing / f"batch_{b}.parquet"))

    kw = dict(
        landing_dir=str(landing),
        path_glob_filter="batch_*.parquet",
        schema=docs.schema,
        sketch_dir=str(tmp_path / "sketch"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    land(0), land(1)
    run_mg_catchup(spark, **kw)  # wave 1: two epochs
    land(2), land(3)
    merged = run_mg_catchup(spark, **kw)  # wave 2: two more
    got = {
        (r["token"], r["mg_count"], r["d_total"], r["n_total"])
        for r in merged.collect()
    }
    from trx_spark.queries.curation import _token_stream

    state, d_total = mg_fold(mg_batch_partials(_token_stream(spark, sf_dir)))
    n_total = _token_stream(spark, sf_dir).count()
    want = {(t, c, d_total, n_total) for t, c in state.items()}
    assert got == want
    # ... and the registered gate agrees on the kept counters
    gate = {
        (r["token"], r["mg_count"])
        for r in heavy_hitters_mg(spark, sf_dir).collect()
    }
    assert {(t, c) for t, c, _, _ in got} == gate


def test_mg_windowed_eviction_equals_batch_recompute(spark, sf_dir, tmp_path):
    """Sliding-window MG across two catch-up waves: after wave 1
    (batches 0-1) the W=2 window folds exactly those two; after wave 2
    (batches 2-3) the window SLIDES — batches 0-1 are evicted from the
    fold and the merged summary equals the batch gate's recompute on
    the window [B-W, B) bit-for-bit."""
    import os

    from pyspark.sql import functions as F

    from trx_spark.queries.curation import _token_stream
    from trx_spark.queries.mgsketch import (
        _MG_B,
        _MG_W,
        heavy_hitters_windowed,
        mg_batch_partials,
        mg_fold,
    )
    from trx_spark.streaming.sketch import run_mg_catchup
    from trx_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    landing = tmp_path / "landing"
    landing.mkdir()

    def land(b):
        tmp = tmp_path / f"w{b}"
        (
            docs.filter(F.col("doc_id") % _MG_B == b)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp))
        )
        import glob as _glob

        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        os.rename(part, str(landing / f"batch_{b}.parquet"))

    kw = dict(
        window=_MG_W,
        landing_dir=str(landing),
        path_glob_filter="batch_*.parquet",
        schema=docs.schema,
        sketch_dir=str(tmp_path / "sketch"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def window_fold(lo, hi):
        ts = _token_stream(spark, sf_dir).filter(
            ((F.col("doc_id") % _MG_B) >= lo) & ((F.col("doc_id") % _MG_B) < hi)
        )
        state, d_total = mg_fold(mg_batch_partials(ts, b=hi, lo=lo))
        return {
            (t, c, d_total, ts.count()) for t, c in state.items()
        }

    land(0), land(1)
    wave1 = {
        (r["token"], r["mg_count"], r["d_total"], r["n_total"])
        for r in run_mg_catchup(spark, **kw).collect()
    }
    assert wave1 == window_fold(0, _MG_W)  # window = the 2 landed batches
    land(2), land(3)
    wave2 = {
        (r["token"], r["mg_count"], r["d_total"], r["n_total"])
        for r in run_mg_catchup(spark, **kw).collect()
    }
    # eviction: batches 0-1 left the fold; equals batch recompute on
    # the window, which is exactly the registered windowed gate
    assert wave2 == window_fold(_MG_B - _MG_W, _MG_B)
    gate = {
        (r["token"], r["mg_count"], r["d_total"], r["n_total"])
        for r in heavy_hitters_windowed(spark, sf_dir).collect()
    }
    assert wave2 == gate


def test_mg_duplicate_batch_partials_fail_loudly(spark, sf_dir, tmp_path):
    """A batch id whose partials span MORE than one epoch violates the
    one-batch-file-per-micro-batch contract; the merge must raise, not
    silently drop one epoch's decrement and token mass (the r12
    ADVICE item)."""
    import pytest

    from trx_spark.streaming import store
    from trx_spark.streaming.sketch import merged_mg

    sketch_dir = str(tmp_path / "sketch")
    rows = [(0, "alpha", 3, 0, 10), (0, None, None, 0, 10)]
    df = spark.createDataFrame(
        rows, "batch long, token string, pc long, d_part long, n_part long"
    )
    for epoch in (0, 1):  # same batch id landing in two epochs
        store.write(df, sketch_dir, epoch)
    with pytest.raises(ValueError, match="multiple epochs"):
        merged_mg(spark, sketch_dir)


def test_mg_landing_memoized_and_cold_rebuilt(spark, sf_dir):
    """The landed batch files are a per-(session, sf_dir) input fixture
    shared by both MG gates: repeated calls return the SAME landing dir
    (no rebuild), the partitioned write produced exactly one file per
    batch id, and the cold sweep (clear_stage_caches) forces a fresh
    landing — so bench cold passes re-pay the build honestly."""
    import os

    from pyspark.sql import functions as F

    from trx_spark.cache import clear_stage_caches, stage_cache_stats
    from trx_spark.queries.mgsketch import _MG_B
    from trx_spark.queries.streamingq import _mg_landing

    clear_stage_caches()
    landing1, schema1 = _mg_landing(spark, sf_dir)
    files = sorted(os.listdir(landing1))
    assert files == [f"batch_{b}.parquet" for b in range(_MG_B)]
    landing2, _ = _mg_landing(spark, sf_dir)
    assert landing2 == landing1  # memo hit, no second build
    # batch files hold the full split: union equals the corpus
    n_docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()
    n_landed = sum(
        spark.read.parquet(os.path.join(landing1, f)).count() for f in files
    )
    assert n_landed == n_docs
    # every doc landed in its residue file
    for b in range(_MG_B):
        got = spark.read.parquet(os.path.join(landing1, f"batch_{b}.parquet"))
        assert got.filter(F.col("doc_id") % _MG_B != b).count() == 0
    clear_stage_caches()
    assert "mg_landing" not in stage_cache_stats()
    landing3, _ = _mg_landing(spark, sf_dir)
    assert landing3 != landing1  # cold pass rebuilds a fresh fixture
