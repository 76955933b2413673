"""Sources/sinks: id9-style log reader, diagnostics, chi curves, golden
text writer, config-hash store (SURVEY S4-S14)."""

from __future__ import annotations

import numpy as np

from trx_spark.sources import chi as chimod
from trx_spark.sources import logfile, sinks

LOG = """\
# run started
# pd1 dark/sec : 2.0
# pd2 dark/sec : 1.0
# comment line
# file delay time currentmA pd1ic pd2ic timeic
img_0000 off 10:00:00 190.0 100.0 50.0 1.0
img_0001 100ps 10:00:05 189.5 110.0 55.0 1.0
img_0002 -5us 10:00:10 5.0 120.0 60.0 1.0
img_0003 1ns 10:00:15 188.0 130.0 65.0 1.0
img_0004 off 10:00:20 187.5 140.0 70.0 1.0
"""

DIAG = """\
# comment
x y img_0000.edf off
x y img_0001.edf 1e-10
x y img_0002.edf nan
x y img_0003.edf 1e-9
"""


def test_read_id9_log(spark, tmp_path):
    p = tmp_path / "waxs.log"
    p.write_text(LOG)
    df = logfile.read_id9_log(spark, str(p), srcur_min=30.0, subtract_dark=True)
    rows = {r["file"]: r.asDict() for r in df.collect()}
    # srcur filter dropped img_0002 (currentmA 5.0 < 30)
    assert set(rows) == {"img_0000", "img_0001", "img_0003", "img_0004"}
    assert rows["img_0000"]["delay"] == -10.0  # 'off'
    np.testing.assert_allclose(rows["img_0001"]["delay"], 1e-10)  # 100ps
    np.testing.assert_allclose(rows["img_0003"]["delay"], 1e-9)  # 1ns
    # dark subtraction: pd1ic − 2.0·timeic
    np.testing.assert_allclose(rows["img_0000"]["pd1ic"], 98.0)
    np.testing.assert_allclose(rows["img_0000"]["pd2ic"], 49.0)


def test_log_slice(spark, tmp_path):
    p = tmp_path / "waxs.log"
    p.write_text(LOG)
    df = logfile.read_log_file(spark, str(p), skip_first=1, last=4)
    files = sorted(r["file"] for r in df.collect())
    assert files == ["img_0001", "img_0002", "img_0003"]


def test_log_slice_multisplit(spark, tmp_path):
    """The slice must count the FILE's first N lines even when the scan
    splits the file across many partitions (the round-1 bare
    monotonically_increasing_id ordering did not guarantee this)."""
    p = tmp_path / "big.log"
    lines = ["# file delay"] + [f"img_{i:05d} {i}ps" for i in range(2000)]
    p.write_text("\n".join(lines) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        raw = spark.read.option("comment", "#").option("sep", " ").csv(str(p))
        assert raw.rdd.getNumPartitions() > 1, "test needs a multi-split scan"
        df = logfile.read_log_file(spark, str(p), skip_first=5, last=1500)
        got = [r["file"] for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert got == [f"img_{i:05d}" for i in range(5, 1500)]


def _log_rows(spark, path):
    df = logfile.read_id9_log(spark, str(path), subtract_dark=True)
    return df.columns, sorted(tuple(r) for r in df.collect())


def _respaced(sep: str) -> str:
    """LOG with every data line's single-space separators replaced by
    ``sep``, plus a leading and a trailing ``sep``."""
    return "".join(
        line + "\n"
        if line.startswith("#")
        else sep + line.replace(" ", sep) + sep + "\n"
        for line in LOG.splitlines()
    )


def test_log_tab_separated_equals_single_space(spark, tmp_path):
    """genfromtxt's whitespace rule: tabs separate fields like a space,
    and a leading or trailing tab adds no field."""
    (tmp_path / "space.log").write_text(LOG)
    (tmp_path / "tab.log").write_text(_respaced("\t"))
    assert _log_rows(spark, tmp_path / "tab.log") == _log_rows(
        spark, tmp_path / "space.log"
    )


def test_log_multi_space_equals_single_space(spark, tmp_path):
    (tmp_path / "space.log").write_text(LOG)
    (tmp_path / "wide.log").write_text(_respaced("   "))
    assert _log_rows(spark, tmp_path / "wide.log") == _log_rows(
        spark, tmp_path / "space.log"
    )


def test_unsliced_log_read_runs_two_jobs_and_no_window(spark, tmp_path):
    """No schema-inference job (the text reader has a fixed schema) and
    no row_number window unless the read is sliced: only the id9 dtype
    probe's aggregate runs."""
    import uuid

    p = tmp_path / "waxs.log"
    p.write_text(LOG)
    sc = spark.sparkContext
    group = f"log-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "unsliced log read")
    try:
        df = logfile.read_id9_log(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 2, f"{jobs} jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    sliced = logfile.read_log_file(spark, str(p), skip_first=1)
    assert "Window" in sliced._jdf.queryExecution().executedPlan().toString()


def test_log_converters(spark, tmp_path):
    """S4 converters= map (trx/utils/files.py:31-82): cast-type strings
    and Column-callable converters, applied JVM-side."""
    from trx_spark.functions.strings import delay_to_num

    p = tmp_path / "waxs.log"
    p.write_text(LOG)
    df = logfile.read_log_file(
        spark,
        str(p),
        converters={"currentmA": "double", "delay": delay_to_num},
    )
    rows = {r["file"]: r.asDict() for r in df.collect()}
    assert rows["img_0002"]["currentmA"] == 5.0
    np.testing.assert_allclose(rows["img_0001"]["delay"], 1e-10)
    assert rows["img_0000"]["delay"] == -10.0


def test_read_diagnostic(spark, tmp_path):
    p = tmp_path / "diagnostics.log"
    p.write_text(DIAG)
    df = logfile.read_diagnostic(spark, str(p))
    rows = {r["file"]: r["scan"] for r in df.collect()}
    # non-numeric delays ('off', 'nan') → NaN → dropped, matching the
    # reference's _conv + isfinite (id9.py:20-25,51-54); basename strips .edf
    assert rows == {"img_0001": 1e-10, "img_0003": 1e-9}


def test_chi_read_and_average(spark, tmp_path):
    qs = np.linspace(0.1, 1.0, 5)
    for k in range(3):
        lines = [f"{q:.6f} {q * (k + 1):.6f}" for q in qs]
        (tmp_path / f"c{k}.chi").write_text("# hdr\n" + "\n".join(lines) + "\n")
    avg = chimod.chi_average(spark, str(tmp_path / "*.chi")).collect()
    assert len(avg) == 5
    for r in avg:
        assert r["n_curves"] == 3
        np.testing.assert_allclose(r["i"], r["q"] * 2.0, rtol=1e-9)  # mean of 1,2,3×q


def test_save_txt_golden(spark, tmp_path):
    df = spark.createDataFrame(
        [(0.1, 1.0, 0.01), (0.2, -2.0, 0.02)], "q double, diff double, err double"
    )
    out = tmp_path / "diff_av.txt"
    sinks.save_txt(df, str(out), x="q", columns=["diff", "err"], info={"delay": "100ps"})
    text = out.read_text().splitlines()
    assert text[0] == "# delay : 100ps"
    assert text[1] == "# q diff err"
    assert text[2].split() == ["+1.00000e-01", "+1.00000e+00", "+1.00000e-02"]
    assert text[3].split() == ["+2.00000e-01", "-2.00000e+00", "+2.00000e-02"]


def test_config_hash_store(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.0)], "a int, b double")
    out = str(tmp_path / "store")
    cfg = {"n_bins": 32, "mask": "x>10", "dark": 0.0}
    sinks.save_with_config(df, out, cfg)
    assert sinks.is_result_current(out, cfg)
    # any arg change invalidates (SURVEY F7 — azav.py:300-343)
    assert not sinks.is_result_current(out, {**cfg, "n_bins": 64})
    assert sinks.load_result(spark, out).count() == 1


def test_compact_store(spark, tmp_path):
    """Many small epoch files → one compaction pass → few files, same
    rows (the small-files maintenance op for the incremental store)."""
    import os

    store = str(tmp_path / "store")
    for k in range(12):
        df = spark.createDataFrame([(k, float(k))], "epoch int, v double")
        df.coalesce(1).write.mode("append").parquet(store)
    before = [f for f in os.listdir(store) if f.endswith(".parquet")]
    assert len(before) >= 12
    n = sinks.compact_store(spark, store, target_file_mb=128)
    after = [f for f in os.listdir(store) if f.endswith(".parquet")]
    assert n == 1 and len(after) == 1
    back = spark.read.parquet(store)
    assert back.count() == 12
    assert sorted(r["epoch"] for r in back.collect()) == list(range(12))


def test_compact_epoch_store_preserves_replay_layout(spark, tmp_path):
    """Regression: compacting the incremental sink's _epoch store must
    keep the partitioned layout (folded into _epoch=-1) so subsequent
    epochs still land — and replay-overwrite — their own partitions."""
    import os

    from trx_spark.streaming.incremental import make_batch_handler

    store = str(tmp_path / "store")
    handler = make_batch_handler(store)
    import pandas as pd

    for e in range(6):
        handler(spark.createDataFrame(pd.DataFrame({"v": [float(e)] * 3})), e)
    assert len([d for d in os.listdir(store) if d.startswith("_epoch=")]) == 6
    sinks.compact_store(spark, store, target_file_mb=128)
    assert [d for d in os.listdir(store) if d.startswith("_epoch=")] == ["_epoch=-1"]
    assert spark.read.parquet(store).count() == 18
    # a new epoch appends its own partition; replaying it stays idempotent
    handler(spark.createDataFrame(pd.DataFrame({"v": [99.0]})), 6)
    handler(spark.createDataFrame(pd.DataFrame({"v": [99.0]})), 6)
    back = spark.read.parquet(store)
    assert back.count() == 19
    assert sorted(d for d in os.listdir(store) if d.startswith("_epoch=")) == [
        "_epoch=-1",
        "_epoch=6",
    ]


def test_bucketed_store_elides_join_shuffle(spark, tmp_path):
    """Co-located bucketed store: a self-grain join of two tables
    bucketed the same way on the join key must plan WITHOUT an Exchange
    on either side (the whole point of paying the shuffle at write
    time)."""
    import pandas as pd

    curves = spark.createDataFrame(
        pd.DataFrame(
            {
                "file": [f"img_{i % 40:04d}" for i in range(400)],
                "q_bin": [i % 10 for i in range(400)],
                "i": [float(i) for i in range(400)],
            }
        )
    )
    log = spark.createDataFrame(
        pd.DataFrame(
            {"file": [f"img_{k:04d}" for k in range(40)], "delay": [0.1 * k for k in range(40)]}
        )
    )
    spark.sql("DROP TABLE IF EXISTS b_curves")
    spark.sql("DROP TABLE IF EXISTS b_log")
    sinks.save_bucketed(
        curves, "b_curves", path=str(tmp_path / "c"), bucket_by=["file"], n_buckets=8,
        sort_by=["file"],
    )
    sinks.save_bucketed(
        log, "b_log", path=str(tmp_path / "l"), bucket_by=["file"], n_buckets=8,
        sort_by=["file"],
    )
    try:
        j = sinks.load_bucketed(spark, "b_curves").join(
            sinks.load_bucketed(spark, "b_log").hint("merge"), "file"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 400
    finally:
        spark.sql("DROP TABLE IF EXISTS b_curves")
        spark.sql("DROP TABLE IF EXISTS b_log")


MOTOR_DUMP = """\
name user dial
mono 12.5 12.4
name user dial
dety -3.25 -3.30
gonio 0.0 0.1
"""


def test_read_motor_dump(spark, tmp_path):
    p = tmp_path / "motors.dat"
    p.write_text(MOTOR_DUMP)
    rows = {r["name"]: (r["user"], r["dial"]) for r in logfile.read_motor_dump(spark, str(p)).collect()}
    # repeated headers dropped (id9.py:349-353)
    assert rows == {"mono": (12.5, 12.4), "dety": (-3.25, -3.3), "gonio": (0.0, 0.1)}


def test_compact_store_skips_replayed_folded_epoch(spark, tmp_path):
    """Crash-replay after compaction: an epoch written (but whose
    checkpoint commit was lost) and then FOLDED into _epoch=-1 must be
    skipped when replayed — the watermark marker makes the per-epoch
    overwrite a no-op instead of landing the rows a second time."""
    import pandas as pd

    from trx_spark.streaming import store as epoch_store
    from trx_spark.streaming.incremental import make_batch_handler

    store = str(tmp_path / "store")
    handler = make_batch_handler(store)
    for e in range(4):
        handler(spark.createDataFrame(pd.DataFrame({"v": [float(e)] * 2})), e)
    sinks.compact_store(spark, store, target_file_mb=128)
    assert epoch_store.compacted_through(store) == 3
    assert spark.read.parquet(store).count() == 8
    # replay of an absorbed epoch: no-op, rows NOT duplicated
    handler(spark.createDataFrame(pd.DataFrame({"v": [2.0] * 2})), 2)
    assert spark.read.parquet(store).count() == 8
    # a genuinely new epoch still lands
    handler(spark.createDataFrame(pd.DataFrame({"v": [9.0]})), 4)
    assert spark.read.parquet(store).count() == 9


def test_compact_store_partitioned_respects_file_target(spark, tmp_path):
    """A Hive-partitioned (non-_epoch) store must repartition BY the
    partition column — round-robin would write up to n_files files in
    EVERY partition directory, defeating the compaction."""
    import os

    store = str(tmp_path / "pstore")
    for k in range(8):
        df = spark.createDataFrame(
            [(d, k, float(k)) for d in range(5)], "day int, epoch int, v double"
        )
        df.repartition(4).write.mode("append").partitionBy("day").parquet(store)
    sinks.compact_store(spark, store, target_file_mb=128)
    for d in range(5):
        files = [
            f
            for f in os.listdir(os.path.join(store, f"day={d}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)
    assert spark.read.parquet(store).count() == 8 * 5


def test_compact_store_survives_stale_old_dir(spark, tmp_path):
    """A '._compact_old' directory left by a crashed earlier compaction
    must not break every subsequent compaction (os.rename onto a
    non-empty dir raises)."""
    import os

    store = str(tmp_path / "store")
    for k in range(3):
        spark.createDataFrame([(k,)], "v int").coalesce(1).write.mode(
            "append"
        ).parquet(store)
    stale = store + "._compact_old"
    os.makedirs(stale)
    with open(os.path.join(stale, "junk.parquet"), "w") as f:
        f.write("leftover")
    sinks.compact_store(spark, store, target_file_mb=128)
    assert spark.read.parquet(store).count() == 3
    assert not os.path.exists(stale)


def test_export_shards_empty_frame(spark, tmp_path):
    """A legitimately-empty export certifies an empty manifest instead
    of aborting at the schema-less read-back."""
    df = spark.createDataFrame([], "doc_id long, text string")
    manifest = sinks.export_shards(
        df, str(tmp_path / "out"), shard_key=["doc_id"], n_shards=4
    )
    assert manifest["total_rows"] == 0
    assert manifest["rows_per_shard"] == {}


def test_spec_file_reader(spark, tmp_path):
    """S8 (trx/utils/spec.py): scans, double-space labels (labels may
    contain single spaces), #O/#P motor zip across continuation lines,
    last-scan default, distributed data block."""
    import pytest

    from trx_spark.sources.specfile import (
        read_spec_scan,
        spec_motors,
        spec_scan_headers,
    )

    spec = "\n".join(
        [
            "#F /data/run1.spec",
            "#E 1700000000",
            "#D Sat Aug 14 10:00:00 2026",
            "#O0 mono  slit gap",
            "#O1 samz",
            "",
            "#S 1 ascan samz 0 1 2 0.1",
            "#D Sat Aug 14 10:01:00 2026",
            "#P0 12.398  0.5",
            "#P1 3.25",
            "#N 3",
            "#L samz  Two Theta  det",
            "0.0 10.0 100",
            "0.5 10.5 110",
            "1.0 11.0 120",
            "",
            "#S 2 timescan 0.1",
            "#P0 12.398  0.6",
            "#P1 4.0",
            "#N 2",
            "#L time  det",
            "0.0 5",
            "0.1 7",
            "",
        ]
    )
    p = tmp_path / "run1.spec"
    p.write_text(spec)

    hs = spec_scan_headers(str(p))
    assert [h.number for h in hs] == [1, 2]
    assert hs[0].command.startswith("ascan")
    assert hs[0].labels == ["samz", "Two Theta", "det"]
    assert hs[0].motors == {"mono": 12.398, "slit gap": 0.5, "samz": 3.25}
    assert hs[1].motors["samz"] == 4.0

    df = read_spec_scan(spark, str(p), scan=1)
    assert df.columns == ["samz", "Two Theta", "det"]
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(0.0, 10.0, 100.0), (0.5, 10.5, 110.0), (1.0, 11.0, 120.0)]

    # scan=None → the last scan
    last = read_spec_scan(spark, str(p))
    assert last.columns == ["time", "det"]
    assert last.count() == 2

    mot = {
        (r["scan_no"], r["motor"]): r["position"]
        for r in spec_motors(spark, str(p)).collect()
    }
    assert mot[(1, "samz")] == 3.25 and mot[(2, "slit gap")] == 0.6

    with pytest.raises(ValueError, match="scan 9"):
        read_spec_scan(spark, str(p), scan=9)


def test_versioned_snapshot_store(spark, tmp_path):
    """Snapshot semantics: immutable versions, atomic promotion, time
    travel, rollback without data moves, and lineage in the manifest."""
    import pytest as _pt

    from trx_spark.sources import sinks

    p = str(tmp_path / "store")
    v0 = sinks.save_snapshot(
        spark.range(0, 100).withColumnRenamed("id", "k"), p, note="initial"
    )
    v1 = sinks.save_snapshot(
        spark.range(0, 40).withColumnRenamed("id", "k"), p, note="filtered"
    )
    assert (v0, v1) == (0, 1)
    assert sinks.load_snapshot(spark, p).count() == 40  # current = v1
    assert sinks.load_snapshot(spark, p, version=0).count() == 100  # time travel
    hist = sinks.snapshot_history(p)
    assert hist["current"] == 1
    assert hist["versions"]["0"] == {"rows": 100, "note": "initial"}
    sinks.rollback_snapshot(p, 0)
    assert sinks.load_snapshot(spark, p).count() == 100
    # newer version stays readable by id after rollback
    assert sinks.load_snapshot(spark, p, version=1).count() == 40
    # append after rollback allocates the next id, never rewrites v1
    v2 = sinks.save_snapshot(
        spark.range(0, 7).withColumnRenamed("id", "k"), p, note="post-rollback"
    )
    assert v2 == 2
    assert sinks.load_snapshot(spark, p, version=1).count() == 40
    with _pt.raises(ValueError, match="no snapshot version"):
        sinks.load_snapshot(spark, p, version=9)
    with _pt.raises(ValueError, match="no snapshot version"):
        sinks.rollback_snapshot(p, 9)
    with _pt.raises(ValueError, match="no snapshot version"):
        sinks.load_snapshot(spark, str(tmp_path / "missing"))
