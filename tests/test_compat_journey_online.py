"""Online capstone for the migration façade (r10-verdict task 7): the
reference's id9 online loop (E3/ST2) on REAL detector files — EDF
files appearing across three polls (plain, gzip-wrapped, multi-frame
stack: the same mixed-folder shapes as the batch journey) → the
incremental curve bank equals the batch ``doFolder`` of the final
folder BIT-FOR-BIT; the retryMax empty-poll cutoff is honored; a
restarted poller re-derives its processed set from the store instead
of re-appending, and numbers its epochs from the store (one epoch per
productive poll)."""

from __future__ import annotations

import gzip

import numpy as np

from trx_spark import compat
from trx_spark.operators.multimodal import encode_edf, encode_edf_stack

NY = NX = 16
PONI = dict(dist=0.05, pixel=200e-6, xcen=NX / 2, ycen=NY / 2, E=10.0)


def _curve_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _write_wave(folder, wave: int) -> list[str]:
    names = []
    for j in range(2):
        i = wave * 2 + j
        img = np.full((NY, NX), 50.0 + 3.0 * i, dtype="f8")
        if wave == 1 and j == 0:
            name = f"img_{i:04d}.edf.gz"
            (folder / name).write_bytes(gzip.compress(encode_edf(img), mtime=0))
        elif wave == 2 and j == 0:
            name = f"img_{i:04d}.edf"
            (folder / name).write_bytes(encode_edf_stack([img, img]))
        else:
            name = f"img_{i:04d}.edf"
            (folder / name).write_bytes(encode_edf(img))
        names.append(name)
    return names


def test_online_journey_real_files(spark, tmp_path):
    folder = tmp_path / "run_online"
    folder.mkdir()
    kw = dict(
        store_dir=str(tmp_path / "bank"),
        files="*.edf*",
        retry_max=2,
        nQ=5,
        qlims=(0.0, 0.2),
        poni=PONI,
    )
    p = compat.FolderPoller(spark, str(folder), **kw)

    # an empty poll before any file lands counts toward the cutoff...
    assert p.poll() == 0 and p.empty_polls == 1 and not p.done
    # ...and a productive poll RESETS the consecutive counter
    _write_wave(folder, 0)
    assert p.poll() == 2 and p.empty_polls == 0
    _write_wave(folder, 1)
    assert p.poll() == 2
    _write_wave(folder, 2)
    assert p.poll() == 2

    # incremental bank == batch doFolder of the final folder, bit-for-bit
    batch = compat.doFolder(
        spark, str(folder), files="*.edf*", nQ=5, qlims=(0.0, 0.2), poni=PONI
    )
    assert _curve_rows(p.bank()) == _curve_rows(batch)

    # retryMax give-up: two consecutive empty polls end the loop
    assert p.poll() == 0 and not p.done
    assert p.poll() == 0 and p.done

    # restart: a NEW poller re-derives the processed set from the store
    # (nothing re-azav'd, nothing duplicated), and picks up only files
    # that landed while it was down
    p2 = compat.FolderPoller(spark, str(folder), **kw)
    assert p2.poll() == 0
    _write_wave(folder, 3)
    assert p2.poll() == 2
    batch2 = compat.doFolder(
        spark, str(folder), files="*.edf*", nQ=5, qlims=(0.0, 0.2), poni=PONI
    )
    assert _curve_rows(p2.bank()) == _curve_rows(batch2)


def test_restart_remembers_zero_curve_files(spark, tmp_path):
    """A file whose every curve is filtered out (here: a mask covering
    the whole detector) never reaches the store; the persisted
    manifest must still mark it processed, or a
    restarted poller re-lists it as new on every poll and the retryMax
    give-up never fires (the ADVICE r11 livelock)."""
    folder = tmp_path / "run_zero"
    folder.mkdir()
    kw = dict(
        store_dir=str(tmp_path / "bank_zero"),
        files="*.edf*",
        retry_max=2,
        nQ=5,
        mask="x>-1",  # masks every pixel: zero curves per file
        poni=PONI,
    )
    p = compat.FolderPoller(spark, str(folder), **kw)
    _write_wave(folder, 0)
    assert p.poll() == 2  # files are NEW and get azav'd...
    # ...but every curve is filtered away: no epoch reached the store
    store = tmp_path / "bank_zero"
    assert not list(store.glob("_epoch=*"))

    # restart: the manifest alone carries the processed set
    p2 = compat.FolderPoller(spark, str(folder), **kw)
    assert p2.poll() == 0 and p2.empty_polls == 1
    assert p2.poll() == 0 and p2.done  # give-up fires; no livelock


def test_restarted_poller_numbers_epochs_from_the_store(spark, tmp_path):
    """Each productive poll is ONE epoch of the store (not one directory
    per frame), and the next epoch id comes from the store — the newest
    epoch or the compaction watermark, plus one — never from the poll
    count: a restarted poller (``n_polls`` back at 0) must not overwrite
    an earlier wave, also after the store was compacted."""
    from trx_spark.sources.sinks import compact_store
    from trx_spark.streaming import store

    folder = tmp_path / "run_epochs"
    folder.mkdir()
    bank = str(tmp_path / "bank_epochs")
    kw = dict(store_dir=bank, files="*.edf*", nQ=5, qlims=(0.0, 0.2), poni=PONI)

    def batch():
        return compat.doFolder(
            spark, str(folder), files="*.edf*", nQ=5, qlims=(0.0, 0.2), poni=PONI
        )

    p = compat.FolderPoller(spark, str(folder), **kw)
    assert p.poll() == 0  # an empty poll writes no epoch
    _write_wave(folder, 0)
    assert p.poll() == 2
    _write_wave(folder, 1)
    assert p.poll() == 2
    assert store.epochs(bank) == [0, 1]

    p2 = compat.FolderPoller(spark, str(folder), **kw)
    _write_wave(folder, 2)
    assert p2.poll() == 2 and p2.n_polls == 1
    assert store.epochs(bank) == [0, 1, 2]
    assert _curve_rows(p2.bank()) == _curve_rows(batch())

    compact_store(spark, bank)
    assert store.epochs(bank) == [-1] and store.compacted_through(bank) == 2
    p3 = compat.FolderPoller(spark, str(folder), **kw)
    _write_wave(folder, 3)
    assert p3.poll() == 2
    assert store.epochs(bank) == [-1, 3]
    assert _curve_rows(p3.bank()) == _curve_rows(batch())
