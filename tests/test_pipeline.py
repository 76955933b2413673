"""End-to-end pipeline tests (SURVEY §3 E1/E2): synthetic pixels +
geometry + log → curves → per-delay diffs, with closed-form truth."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trx_spark.operators import masks
from trx_spark.pipeline import (
    IntegrationConfig,
    ReductionConfig,
    data_reduction,
    integrate_folder,
)

NY = NX = 24
N_FILES = 12
Q_MAX = 2.0


@pytest.fixture(scope="module")
def domain(spark):
    """3 runs of a tiny experiment: flat intensity per image with a
    delay-dependent boost so every reduction step has closed-form truth."""
    yy, xx = np.mgrid[0:NY, 0:NX]
    cx = cy = NY / 2
    r = np.hypot(xx - cx, yy - cy)
    q = (r / r.max()) * Q_MAX  # radial q map
    geom = pd.DataFrame(
        {
            "y": yy.ravel(),
            "x": xx.ravel(),
            "q": q.ravel(),
            "chi": np.arctan2(yy - cy, xx - cx).ravel(),
            "solid_angle": np.ones(NY * NX),
            "pol_corr": np.ones(NY * NX),
        }
    )
    # delay ladder: off interleaved every 2nd image (FIXTURES B4)
    delays, strs = [], []
    ladder = [1e-10, 3e-10, 1e-9]
    k = 0
    for i in range(N_FILES):
        if i % 2 == 0:
            delays.append(-10.0)
        else:
            delays.append(ladder[k % len(ladder)])
            k += 1
    pixels, logs = [], []
    for i, d in enumerate(delays):
        boost = 0.0 if d == -10.0 else 100.0 * d / 1e-9
        base = 50.0 + boost
        pixels.append(
            pd.DataFrame(
                {
                    "file": f"img_{i:04d}",
                    "y": yy.ravel(),
                    "x": xx.ravel(),
                    "intensity": np.full(NY * NX, base),
                }
            )
        )
        logs.append({"file": f"img_{i:04d}", "delay": d, "currentmA": 190.0})
    return (
        spark.createDataFrame(pd.concat(pixels)),
        spark.createDataFrame(geom),
        spark.createDataFrame(pd.DataFrame(logs)),
    )


def test_integrate_folder_flat_images(spark, domain):
    pixels, geom, log = domain
    cfg = IntegrationConfig(q_min=0.0, q_max=Q_MAX, n_bins=10)
    curves = integrate_folder(pixels, geom, cfg)
    pdf = curves.toPandas()
    assert set(pdf["file"]) == {f"img_{i:04d}" for i in range(N_FILES)}
    # flat image → every bin's weighted mean equals the image base value
    img0 = pdf[pdf.file == "img_0000"]
    np.testing.assert_allclose(img0["i"], 50.0, rtol=1e-12)
    assert img0["n_pix"].sum() == NY * NX


def test_integrate_folder_mask_and_dezinger(spark, domain):
    pixels, geom, log = domain
    cfg = IntegrationConfig(
        q_min=0.0,
        q_max=Q_MAX,
        n_bins=10,
        mask=masks.mask_border((NY, NX), 2),
        dezinger_percentile=0.5,
        dezinger_factor=1.5,
    )
    curves = integrate_folder(pixels, geom, cfg)
    pdf = curves.toPandas()
    # border masked → fewer pixels survive
    assert pdf[pdf.file == "img_0000"]["n_pix"].sum() == (NY - 4) * (NX - 4)
    np.testing.assert_allclose(pdf["i"], pdf["i"].round(6), rtol=1e-9)


def test_data_reduction_end_to_end(spark, domain):
    pixels, geom, log = domain
    curves = integrate_folder(
        pixels, geom, IntegrationConfig(q_min=0.0, q_max=Q_MAX, n_bins=4)
    )
    res = data_reduction(curves, log, ReductionConfig(reference="min", chi2_threshold=None))
    scan = res["scan"].toPandas()
    # refs have boost 0; shot at delay d has diff = 100·d/1e-9 exactly
    # (refs are flat at 50 regardless of idx → interpolation is exact)
    for d, grp in scan.groupby("delay"):
        if d == -10.0:
            np.testing.assert_allclose(grp["mean_diff"], 0.0, atol=1e-9)
        else:
            np.testing.assert_allclose(grp["mean_diff"], 100.0 * d / 1e-9, rtol=1e-9)
    # noise is 0 for delays with a single repeat → err 0/NaN tolerated;
    # n_shots: 6 refs and 2 shots per ladder point per q_bin
    counts = scan.groupby("delay")["n_shots"].first()
    assert counts[-10.0] == 6 and all(counts[d] == 2 for d in counts.index if d != -10.0)
    # F-arr5 diffs_plus_ref = diffs + ref_average (dataReduction.py:199):
    # refs are flat at 50 → ref_avg = 50 per q_bin, add-back is exact
    np.testing.assert_allclose(scan["ref_avg"], 50.0, rtol=1e-12)
    np.testing.assert_allclose(
        scan["diff_plus_ref"], scan["mean_diff"] + 50.0, rtol=1e-12
    )


def test_data_reduction_rejects_a_bank_without_q_bin(spark, domain):
    """A scalar bank (one value per file, no q axis) is not a curve bank:
    the reduction raises instead of reducing it under other rules."""
    _, _, log = domain
    scalars = spark.createDataFrame(
        [(f"img_{i:04d}", 50.0 + i) for i in range(N_FILES)], "file string, i double"
    )
    with pytest.raises(ValueError, match="q_bin"):
        data_reduction(scalars, log, ReductionConfig(reference="min", chi2_threshold=None))


def test_per_delay_sink_with_diff_plus_ref(spark, domain, tmp_path):
    """S11: the per-delay sink persists the diff, err AND diff_plus_ref
    matrices the reference always writes (trx/dataReduction.py:256-257
    diff_plus_ref_av_matrix)."""
    from trx_spark.sources import sinks

    pixels, geom, log = domain
    curves = integrate_folder(
        pixels, geom, IntegrationConfig(q_min=0.0, q_max=Q_MAX, n_bins=4)
    )
    res = data_reduction(curves, log, ReductionConfig(reference="min", chi2_threshold=None))
    out = str(tmp_path / "per_delay")
    sinks.save_per_delay(res["scan"], out)
    back = spark.read.parquet(out)
    assert {"mean_diff", "err_of_mean", "ref_avg", "diff_plus_ref"} <= set(back.columns)
    pdf = back.toPandas()
    np.testing.assert_allclose(pdf["diff_plus_ref"], pdf["mean_diff"] + 50.0, rtol=1e-12)
    # one directory per scan point (delay=... partitions)
    import os

    parts = [d for d in os.listdir(out) if d.startswith("delay=")]
    assert len(parts) == 4  # -10.0 + 3 ladder points


def test_data_reduction_chi2_filter_view(spark, domain):
    pixels, geom, log = domain
    curves = integrate_folder(
        pixels, geom, IntegrationConfig(q_min=0.0, q_max=Q_MAX, n_bins=4)
    )
    res = data_reduction(curves, log, ReductionConfig(reference="min", chi2_threshold="auto"))
    shots = res["shots"].toPandas()
    assert {"chi2_0", "chi2_threshold", "chi2_excluded"} <= set(shots.columns)
    filt = res["scan_filtered"].toPandas()
    assert len(filt) > 0
    # curve data: chi2_0 is per SHOT (q-summed, trx/dataReduction.py:190),
    # so it must be constant across a shot's q bins, and exclusion must be
    # whole-shot — never individual (shot, q) points
    per_file = shots.groupby("file").agg(
        n_chi2=("chi2_0", "nunique"), n_excl=("chi2_excluded", "nunique")
    )
    assert (per_file["n_chi2"] <= 1).all()
    assert (per_file["n_excl"] == 1).all()


def test_data_reduction_multirun_colliding_file_names(spark, domain):
    """Multi-run batches reuse per-run file names (every run has an
    img_0001) — when the run key rides BOTH frames and extra_group,
    the join must key on (run, file) so runs never cross-match: each
    run's diffs then hit its own closed form, with per-run auto chi2
    thresholds and per-(run, file) monitor windows partitioned by the
    run key."""
    pixels, geom, log = domain
    curves = integrate_folder(
        pixels, geom, IntegrationConfig(q_min=0.0, q_max=Q_MAX, n_bins=4)
    )
    # two synthetic runs with IDENTICAL file names; run B's pumped
    # signal is scaled 2x so cross-run leakage would shift the means
    ca = curves.withColumn("run", F.lit("A"))
    cb = curves.withColumn("run", F.lit("B")).withColumn(
        "i", F.col("i") * 2.0
    )
    curves2 = ca.unionByName(cb)
    la = log.withColumn("run", F.lit("A"))
    lb = log.withColumn("run", F.lit("B"))
    log2 = la.unionByName(lb)

    res = data_reduction(
        curves2,
        log2,
        ReductionConfig(
            reference="min", chi2_threshold=None, extra_group=["run"]
        ),
    )
    scan = res["scan"].toPandas()
    assert set(scan["run"]) == {"A", "B"}
    for (run, d), grp in scan.groupby(["run", "delay"]):
        scale = 1.0 if run == "A" else 2.0
        expect = 0.0 if d == -10.0 else scale * 100.0 * d / 1e-9
        np.testing.assert_allclose(grp["mean_diff"], expect, atol=1e-9)
    # row counts: no fan-out from the name collision — each (run,
    # delay, q_bin) appears exactly once
    assert not scan.duplicated(subset=["run", "delay", "q_bin"]).any()
