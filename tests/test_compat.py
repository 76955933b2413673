"""The migration façade: a reference user's exact call sequence —
doFolder → doFolder_dataRed — must reproduce the closed-form journey
(same fixture as test_full_journey, driven through the reference-named
API with reference-vocabulary knobs)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from trx_spark import compat
from trx_spark.operators.multimodal import encode_edf

NY = NX = 16
DELAYS = [-10.0, 1e-10, -10.0, 3e-10, -10.0, 1e-9]


def _geometry(spark):
    yy, xx = np.mgrid[0:NY, 0:NX]
    r = np.hypot(xx - NX / 2, yy - NY / 2)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "y": yy.ravel(), "x": xx.ravel(),
                "q": (r / r.max() * 2.0).ravel(),
                "chi": np.zeros(NY * NX), "solid_angle": np.ones(NY * NX),
                "pol_corr": np.ones(NY * NX),
            }
        )
    )


def test_reference_call_sequence(spark, tmp_path):
    logs = []
    for i, d in enumerate(DELAYS):
        boost = 0.0 if d == -10.0 else 100.0 * d / 1e-9
        img = np.full((NY, NX), 50.0 + boost, dtype="f8")
        (tmp_path / f"img_{i:04d}.edf").write_bytes(encode_edf(img))
        logs.append({"file": f"img_{i:04d}.edf", "delay": d, "currentmA": 190.0})
    log = spark.createDataFrame(pd.DataFrame(logs))

    curves = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        files="*.edf*", nQ=4, qlims=(0.0, 2.0),
    )
    res = compat.doFolder_dataRed(curves, log, reference="min")
    scan = res["scan"].toPandas()
    assert set(res) == {"shots", "scan", "scan_filtered"}
    for d, grp in scan.groupby("delay"):
        expect = 0.0 if d == -10.0 else 100.0 * d / 1e-9
        np.testing.assert_allclose(grp["mean_diff"], expect, atol=1e-9)


def test_mask_string_knob(spark, tmp_path):
    img = np.full((NY, NX), 50.0, dtype="f8")
    (tmp_path / "a.edf").write_bytes(encode_edf(img))
    curves = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        nQ=4, qlims=(0.0, 2.0), mask="x>7",
    ).toPandas()
    # half the detector masked away -> curves still well-formed
    assert (curves["n_pix"] > 0).all() and len(curves) > 0


def test_online_loop_catchup(spark, tmp_path):
    """compat.doFolder_online with poll_seconds=None drains the
    backlog (availableNow) through the incremental store — the
    reference's online loop as a one-shot catch-up."""
    import pandas as pd

    landing = tmp_path / "landing"
    landing.mkdir()
    spark.createDataFrame(
        pd.DataFrame({"file": ["a", "b"], "q": [0.1, 0.2], "i": [1.0, 2.0]})
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "w0"))
    q = compat.doFolder_online(
        spark,
        poll_seconds=None,
        landing_dir=str(landing / "w*"),
        schema="file STRING, q DOUBLE, i DOUBLE",
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    back = spark.read.parquet(str(tmp_path / "store"))
    assert back.count() == 2


def test_split_angle_two_angle_reduction(spark, tmp_path):
    """trx/id9.py:246-263 split_angle: a two-angle dataset reduced with
    split_angle=True keeps the angles apart — per-(angle, delay) means
    match the per-angle closed form, each angle's reference is its OWN
    laser-off — while the same call without split_angle mixes them."""
    import pytest

    logs = []
    k = 0
    for angle in (0.0, 45.0):
        base = 50.0 if angle == 0.0 else 80.0
        for d in DELAYS:
            boost = 0.0 if d == -10.0 else (100.0 + angle) * d / 1e-9
            img = np.full((NY, NX), base + boost, dtype="f8")
            (tmp_path / f"img_{k:04d}.edf").write_bytes(encode_edf(img))
            logs.append(
                {"file": f"img_{k:04d}.edf", "delay": d,
                 "currentmA": 190.0, "angle": angle}
            )
            k += 1
    log = spark.createDataFrame(pd.DataFrame(logs))

    curves = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        files="*.edf*", nQ=4, qlims=(0.0, 2.0),
    )
    res = compat.doFolder_dataRed(curves, log, reference="min", split_angle=True)
    scan = res["scan"].toPandas()
    assert "angle" in scan.columns
    for (angle, d), grp in scan.groupby(["angle", "delay"]):
        expect = 0.0 if d == -10.0 else (100.0 + angle) * d / 1e-9
        np.testing.assert_allclose(grp["mean_diff"], expect, atol=1e-9)

    # without the knob the two angles share references and mix: the
    # pumped groups can no longer all match their per-angle closed form
    mixed = compat.doFolder_dataRed(curves, log, reference="min")["scan"].toPandas()
    ok = True
    for d, grp in mixed.groupby("delay"):
        if d == -10.0:
            continue
        for expect in ((100.0 + 0.0) * d / 1e-9, (100.0 + 45.0) * d / 1e-9):
            ok = ok and bool(np.isclose(grp["mean_diff"], expect, atol=1e-9).any())
    assert not ok

    # the knob demands the angle column
    with pytest.raises(ValueError, match="angle"):
        compat.doFolder_dataRed(curves, log.drop("angle"), split_angle=True)


def test_save_txt_family(spark, tmp_path):
    """compat.saveTxt writes the reference's text-file family (matrix
    + per-delay) with values matching the reduced scan frame."""
    logs = []
    for i, d in enumerate(DELAYS):
        boost = 0.0 if d == -10.0 else 100.0 * d / 1e-9
        img = np.full((NY, NX), 50.0 + boost, dtype="f8")
        (tmp_path / f"img_{i:04d}.edf").write_bytes(encode_edf(img))
        logs.append({"file": f"img_{i:04d}.edf", "delay": d, "currentmA": 190.0})
    log = spark.createDataFrame(pd.DataFrame(logs))
    curves = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        files="*.edf*", nQ=4, qlims=(0.0, 2.0),
    )
    res = compat.doFolder_dataRed(curves, log, reference="min")

    out = tmp_path / "sample" / "run7"
    written = compat.saveTxt(res, str(out), curves=curves)
    names = {p.split("/")[-1] for p in written}
    assert "sample_run7_diff_av_matrix.txt" in names
    assert "sample_run7_diff_plus_ref_av_matrix.txt" in names
    assert any(n.startswith("sample_run7_diff_av_") and "matrix" not in n for n in names)

    # matrix values round-trip: the 1ns column holds the scan's means
    txt = (out / "sample_run7_diff_av_matrix.txt").read_text().splitlines()
    header = txt[1].split()[1:]
    scan = res["scan"].toPandas()
    one_ns = scan[scan["delay"] == 1e-9].sort_values("q_bin")
    col = header.index("+1ns")  # time_to_str codec name (signed, '%+.0f')
    got = [float(line.split()[col]) for line in txt[2:]]
    np.testing.assert_allclose(got, one_ns["mean_diff"].to_numpy(), rtol=1e-5)


def test_save_txt_split_angle_families(spark, tmp_path):
    """A split_angle scan writes one text family per angle (never a
    silent cross-angle average), and an ungrouped duplicate-(q, delay)
    frame raises instead of averaging."""
    import pytest

    logs = []
    k = 0
    for angle in (0.0, 45.0):
        for d in DELAYS:
            boost = 0.0 if d == -10.0 else (100.0 + angle) * d / 1e-9
            img = np.full((NY, NX), 50.0 + boost, dtype="f8")
            (tmp_path / f"img_{k:04d}.edf").write_bytes(encode_edf(img))
            logs.append({"file": f"img_{k:04d}.edf", "delay": d,
                         "currentmA": 190.0, "angle": angle})
            k += 1
    log = spark.createDataFrame(pd.DataFrame(logs))
    curves = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        files="*.edf*", nQ=4, qlims=(0.0, 2.0),
    )
    res = compat.doFolder_dataRed(curves, log, reference="min", split_angle=True)

    out = tmp_path / "sample" / "runA"
    written = compat.saveTxt(res, str(out))  # group defaults to angle
    names = {p.split("/")[-1] for p in written}
    assert "sample_runA_angle0.0_diff_av_matrix.txt" in names
    assert "sample_runA_angle45.0_diff_av_matrix.txt" in names

    # per-angle values, not cross-angle means: the 45-degree +1ns
    # column must hold (100+45), not the (100 | 145) average
    txt = (out / "sample_runA_angle45.0_diff_av_matrix.txt").read_text().splitlines()
    header = txt[1].split()[1:]
    col = header.index("+1ns")
    vals = [float(line.split()[col]) for line in txt[2:]]
    np.testing.assert_allclose(vals, 145.0, atol=1e-9)

    # ungrouped duplicates must raise, not average
    with pytest.raises(ValueError, match="group"):
        compat.saveTxt(res, str(out), group="__missing__")


def test_save_txt_label_collision(spark, tmp_path):
    """Two delays that round to the same time_to_str label (+1ns for
    1.0e-9 AND 1.4e-9 at digits=0) must write distinct per-delay files
    (exact scientific fallback), never silently overwrite."""
    scan = spark.createDataFrame(
        [(1.0e-9, 0, 1.0), (1.4e-9, 0, 2.0)],
        "delay double, q_bin int, mean_diff double",
    )
    written = compat.saveTxt({"scan": scan}, str(tmp_path / "s" / "r"))
    per_delay = [p for p in written if "matrix" not in p]
    assert len(per_delay) == 2
    assert len(set(per_delay)) == 2
    assert not any(p.endswith("diff_av_+1ns.txt") for p in per_delay)


def test_save_diffs_xy_golden(spark, tmp_path):
    """S12 (trx/utils/misc.py:67-80): one 2-col %f-formatted .xy file
    per scan point, named <sample>_<run>_<i:03d>_<timeToStr>.xy, rows
    (2theta_deg, diff_plus_ref) in ascending 2theta order."""
    import math

    import pytest

    scan = spark.createDataFrame(
        [
            (1.0e-9, 0.5, 10.0),
            (1.0e-9, 1.5, 11.0),
            (-10.0, 0.5, 20.0),
            (-10.0, 1.5, 21.0),
        ],
        "delay double, q double, diff_plus_ref double",
    )
    out = tmp_path / "sample" / "runA"
    written = compat.save_diffs_xy({"scan": scan}, str(out), wavelength=1.0)
    assert [p.split("/")[-1] for p in written] == [
        "sample_runA_000_-10s.xy",
        "sample_runA_001_+1ns.xy",
    ]
    tt = lambda q: math.degrees(2.0 * math.asin(q * 1.0 / (4.0 * math.pi)))
    got = (out / "sample_runA_001_+1ns.xy").read_text()
    want = "".join("%f %f\n" % (tt(q), v) for q, v in [(0.5, 10.0), (1.5, 11.0)])
    assert got == want

    # q_bin-only scans recover q through the curve bank's (q_bin, q) map
    scan_b = spark.createDataFrame(
        [(1.0e-9, 0, 10.0)], "delay double, q_bin int, diff_plus_ref double"
    )
    curves = spark.createDataFrame([(0, 0.5)], "q_bin int, q double")
    w2 = compat.save_diffs_xy(
        {"scan": scan_b}, str(tmp_path / "s2" / "r2"), curves=curves, wavelength=1.0
    )
    assert (tmp_path / "s2" / "r2" / "s2_r2_000_+1ns.xy").read_text() == (
        "%f %f\n" % (tt(0.5), 10.0)
    )
    assert len(w2) == 1

    # no 2theta axis and no q → explicit error, not silent column guess
    with pytest.raises(ValueError, match="2theta"):
        compat.save_diffs_xy({"scan": scan_b}, str(tmp_path / "s3"))
    # missing diff_plus_ref → explicit error
    with pytest.raises(ValueError, match="diff_plus_ref"):
        compat.save_diffs_xy(
            {"scan": scan.drop("diff_plus_ref")}, str(tmp_path / "s4"),
            wavelength=1.0,
        )


def test_dezinger_percentile_reference_scale(spark, tmp_path):
    """compat.doFolder accepts the reference/pyFAI 0-100 dezinger knob
    (e.g. 50) and rescales it to the engine's [0, 1] fraction — the
    verbatim-forwarded value used to crash Spark's percentile()."""
    import pytest
    img = np.full((NY, NX), 50.0, dtype="f8")
    (tmp_path / "a.edf").write_bytes(encode_edf(img))
    curves = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        nQ=4, qlims=(0.0, 2.0), dezinger=50,
    ).toPandas()
    assert len(curves) > 0  # flat image: nothing flagged, curves intact

    # the façade scale is ALWAYS 0-100: dezinger=1 means the 1st
    # percentile (0.01 fraction), never the max-baseline fraction 1.0
    low = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        nQ=4, qlims=(0.0, 2.0), dezinger=1,
    ).toPandas()
    assert len(low) > 0
    with pytest.raises(ValueError, match="percentile"):
        compat.doFolder(
            spark, str(tmp_path), _geometry(spark),
            nQ=4, qlims=(0.0, 2.0), dezinger=101,
        )

    # reference no-op semantics (trx/azav.py dodezinger: 'if dezinger is
    # None or dezinger <= 0: return imgs'): 0/negative disable
    # dezingering instead of raising
    off = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        nQ=4, qlims=(0.0, 2.0), dezinger=0,
    ).toPandas()
    none = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        nQ=4, qlims=(0.0, 2.0), dezinger=None,
    ).toPandas()
    assert off.equals(none)
    neg = compat.doFolder(
        spark, str(tmp_path), _geometry(spark),
        nQ=4, qlims=(0.0, 2.0), dezinger=-5,
    ).toPandas()
    assert neg.equals(none)


def test_specfile_facade(spark, tmp_path):
    """SpecFile.getScan mirrors trx/utils/spec.py:53-66: '/'-sanitized
    labels, ycol+normalize ('max' | int index | slice mean | None)."""
    import pytest

    spec = "\n".join(
        [
            "#O0 mono",
            "#S 1 ascan x 0 1 3 0.1",
            "#P0 12.4",
            "#L x  I/I0",
            "0.0 2.0",
            "1.0 4.0",
            "2.0 8.0",
            "3.0 4.0",
            "",
        ]
    )
    p = tmp_path / "a.spec"
    p.write_text(spec)
    sf = compat.SpecFile(spark, str(p))
    assert sf.scan_numbers() == [1]

    full = sf.getScan(1)
    assert full.columns == ["x", "I_I0"]

    ymax = {r["x"]: r["I_I0"] for r in sf.getScan(1, ycol="I/I0").collect()}
    assert ymax[2.0] == 1.0 and ymax[0.0] == 0.25  # y / max(y)

    yidx = {r["x"]: r["I_I0"] for r in sf.getScan(1, ycol="I/I0", normalize=1).collect()}
    assert yidx[1.0] == 1.0 and yidx[2.0] == 2.0  # y / y[1]

    ysl = {r["x"]: r["I_I0"] for r in sf.getScan(1, ycol="I/I0", normalize=slice(0, 2)).collect()}
    assert ysl[0.0] == 2.0 / 3.0  # y / mean(y[:2]) = y/3

    raw = {r["x"]: r["I_I0"] for r in sf.getScan(1, ycol="I/I0", normalize=None).collect()}
    assert raw[3.0] == 4.0

    mot = sf.motors(1).collect()
    assert [(r["motor"], r["position"]) for r in mot] == [("mono", 12.4)]

    # numpy-style negative index: y / y[-1] (reference y[normalize]
    # accepts any valid numpy index)
    yneg = {r["x"]: r["I_I0"] for r in sf.getScan(1, ycol="I/I0", normalize=-1).collect()}
    assert yneg[3.0] == 1.0 and yneg[2.0] == 2.0  # y / y[-1] = y/4

    with pytest.raises(IndexError, match="out of range"):
        sf.getScan(1, ycol="I/I0", normalize=-5)
    # bools are int subclasses but not row indices
    with pytest.raises(ValueError, match="normalize"):
        sf.getScan(1, ycol="I/I0", normalize=True)

    with pytest.raises(ValueError, match="ycol"):
        sf.getScan(1, ycol="nope")


def test_doFolder_builds_detector_geometry_once(spark, tmp_path):
    """The poni geometry table is built once per (session, geometry,
    detector shape): every FolderPoller poll calls doFolder again."""
    from trx_spark.cache import MEMO_BUILDS, clear_stage_caches, stage_cache_stats

    folder = tmp_path / "run"
    folder.mkdir()
    (folder / "img_0000.edf").write_bytes(encode_edf(np.full((8, 8), 5.0)))
    # a distance no other test uses, so the first call is a miss
    poni = dict(dist=0.0731, pixel=200e-6, xcen=4, ycen=4, E=10.0)

    def call(shape=(8, 8), **over):
        compat.doFolder(
            spark, str(folder), files="*.edf", nQ=4, qlims=(0.0, 0.2),
            poni={**poni, **over}, detector_shape=shape,
        )
        return sum(1 for b in MEMO_BUILDS if b["name"] == "detector_geometry")

    first = call()
    assert call() == first
    assert call(shape=[8, 8]) == first  # the shape keys as a tuple of ints
    assert call(shape=(8, 9)) == first + 1
    assert call(dist=0.0732) == first + 2
    assert stage_cache_stats()["detector_geometry"] >= 3
    clear_stage_caches()
    assert "detector_geometry" not in stage_cache_stats()
    assert call() == first + 3
