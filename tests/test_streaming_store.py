"""The epoch store (trx_spark/streaming/store.py) as the one owner of the
incremental sinks' on-disk format: no other module writes, reads or
drains it by hand; compaction keeps bucketed layouts readable; and a
crash after ANY epoch write of a drain replays, from the same
checkpoint, to exactly the stores and result of a clean drain."""

from __future__ import annotations

import ast
import os
import pathlib
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import trx_spark
from trx_spark.streaming import store

_OWNER = pathlib.Path(trx_spark.__file__).parent / "streaming" / "store.py"
_OWNED = ("partitionOverwriteMode", "readStream", "awaitTermination", "_compacted_through")


def _code_words(tree: ast.AST):
    """(line, text) of every identifier and non-docstring string in the
    module — comments are not in the tree, docstrings are skipped."""
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docstrings.add(id(first.value))
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            text = node.id
        elif isinstance(node, ast.Attribute):
            text = node.attr
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            text = node.name
        elif isinstance(node, ast.alias):
            text = f"{node.name} {node.asname or ''}"
        elif isinstance(node, ast.keyword):
            text = node.arg or ""
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) in docstrings:
                continue
            text = node.value
        else:
            continue
        yield getattr(node, "lineno", 0), text


def test_epoch_store_owns_streaming_io():
    """Only streaming/store.py may use the dynamic-overwrite option, the
    file-source reader, the drain's wait or the compaction watermark:
    a second copy of any of them is a second epoch-store format."""
    root = _OWNER.parent.parent
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == _OWNER:
            continue
        for line, text in _code_words(ast.parse(path.read_text(encoding="utf-8"))):
            found += [f"{path.relative_to(root)}:{line}: {w}" for w in _OWNED if w in text]
    assert not found, "epoch-store mechanics outside streaming/store.py:\n" + "\n".join(found)


# ---------------------------------------------------------------------
# three tiny waves of documents, one micro-batch each
# ---------------------------------------------------------------------

_SCHEMA = "doc_id BIGINT, text STRING, source STRING, lang STRING, n_chars BIGINT"
_A = (
    "the experiment ran smoothly and the detector collected many frames "
    "while the sample rotated under the beam producing useful scattering "
    "data for the analysis team to reduce and archive carefully"
)
_B = (
    "a completely different document about storage rings and insertion "
    "devices where undulators produce brilliant beams used to probe "
    "matter at atomic resolution across many scientific disciplines"
)
_C = (
    "finally the beamtime ended and the shutters closed while the crew "
    "packed equipment and wrote the report summarizing every scan with "
    "its settings so future visits could reproduce the whole procedure"
)
_WAVES = [
    [(1, _A), (2, _B), (3, "too short")],
    [(10, _A), (11, _B.replace("atomic", "nuclear")), (12, _C)],
    [(20, _B), (21, _C + " again"), (22, _C + " again")],
]


def _landing(tmp_path) -> str:
    landing = tmp_path / "landing"
    landing.mkdir()
    for k, wave in enumerate(_WAVES):
        path = landing / f"w{k}.parquet"
        pq.write_table(
            pa.table(
                {
                    "doc_id": [d for d, _ in wave],
                    "text": [t for _, t in wave],
                    "source": ["s"] * len(wave),
                    "lang": ["en"] * len(wave),
                    "n_chars": [len(t) for _, t in wave],
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + k, 1_000_000 + k))  # arrival order
    return str(landing)


def _drain_kw(landing: str, work) -> dict:
    return dict(
        landing_dir=landing,
        schema=_SCHEMA,
        checkpoint_dir=str(work / "ckpt"),
        path_glob_filter="*.parquet",
        max_files_per_trigger=1,
    )


def _curation(spark, landing, work):
    from trx_spark.streaming.curation import run_curation_catchup

    return run_curation_catchup(
        spark,
        hash_store=str(work / "hashes"),
        band_store=str(work / "bands"),
        verdict_dir=str(work / "verdicts"),
        **_drain_kw(landing, work),
    )


def _dedup_index(spark, landing, work):
    from trx_spark.streaming.dedup_index import run_lsh_dedup_catchup

    return run_lsh_dedup_catchup(
        spark,
        band_store=str(work / "bands"),
        pairs_dir=str(work / "pairs"),
        **_drain_kw(landing, work),
    )


def _cms_sketch(spark, landing, work):
    from trx_spark.streaming.sketch import run_cms_catchup

    return run_cms_catchup(spark, sketch_dir=str(work / "sketch"), **_drain_kw(landing, work))


def _manifest(spark, landing, work):
    from trx_spark.streaming.matview import run_manifest_catchup

    return run_manifest_catchup(
        spark,
        hash_store=str(work / "hashes"),
        band_store=str(work / "bands"),
        verdict_dir=str(work / "verdicts"),
        manifest_dir=str(work / "manifest"),
        **_drain_kw(landing, work),
    )


def _incremental(spark, landing, work):
    from pyspark.sql import functions as F

    from trx_spark.streaming.incremental import make_batch_handler

    handler = make_batch_handler(
        str(work / "curves"),
        reduce_fn=lambda df: df.groupBy("source").agg(F.sum("n_chars").alias("n")),
        reduced_dir=str(work / "reduced"),
    )
    store.drain(spark, handler=handler, **_drain_kw(landing, work))
    return spark.read.parquet(str(work / "reduced"))


def _rows(df) -> list:
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _snapshot(spark, work, result) -> dict:
    """Every store under ``work`` (rows with their _epoch) plus the
    drain's own result."""
    out = {"result": _rows(result)}
    for d in sorted(p for p in work.iterdir() if p.name != "ckpt"):
        df = store.read(spark, str(d))
        out[d.name] = None if df is None else _rows(df)
    return out


class _Crash:
    """Make the k-th epoch write raise right after its data landed (a
    crash between the write and the stream's checkpoint commit).
    ``k=None`` counts the writes of a clean drain."""

    def __init__(self, monkeypatch, k=None):
        self.k, self.n, self._lock = k, 0, threading.Lock()
        real = store.write

        def write(*args, **kw):
            real(*args, **kw)
            with self._lock:
                self.n += 1
                hit = self.n == self.k
            if hit:
                raise RuntimeError(f"injected crash after epoch write {self.k}")

        monkeypatch.setattr(store, "write", write)


# sink → (drain, epoch writes per wave). The manifest handler runs the
# curation handler first (verdicts, hashes, band keys), then writes its
# own partial, so its sweep crashes after every curation write as well,
# with all four stores in the comparison.
_SINKS = {
    "curation_manifest": (_manifest, 4),
    "dedup_index": (_dedup_index, 2),
    "cms_sketch": (_cms_sketch, 1),
    "incremental": (_incremental, 1),
}


@pytest.mark.parametrize("sink", list(_SINKS))
def test_crash_after_every_epoch_write_replays_to_clean_drain(spark, tmp_path, sink):
    run, per_wave = _SINKS[sink]
    landing = _landing(tmp_path)

    clean = tmp_path / "clean"
    clean.mkdir()
    with pytest.MonkeyPatch.context() as mp:
        counter = _Crash(mp)
        want = _snapshot(spark, clean, run(spark, landing, clean))
    assert counter.n == per_wave * len(_WAVES)

    for k in range(1, counter.n + 1):
        work = tmp_path / f"crash{k}"
        work.mkdir()
        with pytest.MonkeyPatch.context() as mp:
            _Crash(mp, k)
            with pytest.raises(Exception, match="injected crash"):
                run(spark, landing, work)
        # restart from the same checkpoint: the uncommitted epoch replays
        assert _snapshot(spark, work, run(spark, landing, work)) == want, k


def test_compacted_hash_store_stays_readable(spark, tmp_path):
    """Compacting the curation hash store keeps its ``_hb`` level: later
    epochs write ``_epoch=N/_hb=k`` next to ``_epoch=-1/_hb=k`` and
    every read still works, with the verdicts of an uncompacted run."""
    from trx_spark.sources.sinks import compact_store

    landing_all = _landing(tmp_path)
    want = _rows(_curation(spark, landing_all, _mkdir(tmp_path / "plain")))

    landing = tmp_path / "arrivals"
    landing.mkdir()
    work = _mkdir(tmp_path / "compacted")
    for k in range(3):
        os.rename(os.path.join(landing_all, f"w{k}.parquet"), landing / f"w{k}.parquet")
        got = _curation(spark, str(landing), work)
        if k == 0:
            compact_store(spark, str(work / "hashes"), partition_by="_epoch")
            assert store.epochs(str(work / "hashes")) == [-1]
            assert any(
                n.startswith("_hb=") for n in os.listdir(work / "hashes" / "_epoch=-1")
            )
    assert _rows(got) == want


def _mkdir(path):
    path.mkdir()
    return path


def test_compaction_never_lowers_watermark_and_next_epoch_follows_it(spark, tmp_path):
    """``next_epoch`` is one past the newest epoch or watermark, so a
    writer that numbers its epochs from the store never reuses an id a
    fold absorbed."""
    d = str(tmp_path / "s")
    assert store.next_epoch(d) == 0 and store.read(spark, d) is None
    df = spark.createDataFrame([(1,)], "v INT")
    store.write(df, d, 0)
    store.write(df, d, 1)
    assert store.next_epoch(d) == 2
    store.compact(spark, d)
    assert store.epochs(d) == [-1] and store.compacted_through(d) == 1
    store.compact(spark, d)  # only _epoch=-1 left: the watermark holds
    assert store.compacted_through(d) == 1 and store.next_epoch(d) == 2
    assert store.absorbed(d, 1) and not store.absorbed(d, 2)
    assert store.read(spark, d).count() == 2


def test_replay_state_width_follows_default_parallelism(spark):
    """The replay width comes from the session, not from the process
    environment, and the batch width is restored afterwards."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    want = max(2, min(8, spark.sparkContext.defaultParallelism))
    with store.replay_state_width(spark):
        assert spark.conf.get(key) == str(want)
    assert spark.conf.get(key) == before
