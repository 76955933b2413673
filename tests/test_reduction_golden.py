"""Golden tests for the two subtlest operators (SURVEY §5 risk
register): interp_references and averageScanPoints, checked against an
independent numpy implementation of the reference's documented
behavior (trx/dataReduction.py:15-205) — including edge clamps,
reference-self-exclusion quirks and the every-second-reference rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trx_spark.operators.reduction import (
    average_scan_points,
    interp_references,
    time_resolved_diff,
)


def interp_refs_numpy(i: np.ndarray, idx_ref: np.ndarray) -> np.ndarray:
    """Behavioral oracle for trx/dataReduction.py:15-85 (independent
    transcription of the documented semantics, quirks included)."""
    iref = np.empty_like(i, dtype=float)
    idx_ref = np.atleast_1d(np.asarray(idx_ref))
    if idx_ref.shape[0] == 1:
        iref[:] = i[idx_ref[0]]
        return iref
    for b, a in zip(idx_ref[:-1], idx_ref[1:]):
        slope = (i[a] - i[b]) / float(a - b)
        for k in range(b, a):
            iref[k] = i[b] + slope * float(k - b)
    iref[: idx_ref[0]] = i[idx_ref[0]]
    iref[idx_ref[-1] :] = i[idx_ref[-1]]
    # refs-for-refs: the zip's third arm is idx_ref[2:-1] → the
    # second-to-last ref is intentionally left at its own value
    for b, mid, a in zip(idx_ref, idx_ref[1:], idx_ref[2:-1]):
        slope = (i[a] - i[b]) / float(a - b)
        iref[mid] = i[b] + slope * float(mid - b)
    iref[idx_ref[0]] = i[idx_ref[1]]
    iref[idx_ref[-1]] = i[idx_ref[-2]]
    return iref


REF_PATTERNS = [
    pytest.param([4], id="single_ref"),
    pytest.param([0, 9], id="two_refs_at_edges"),
    pytest.param([2, 7], id="two_refs_inner"),
    pytest.param([1, 4, 8], id="three_refs"),
    pytest.param([0, 2, 4, 6, 8], id="every_second"),
    pytest.param([3, 4, 5, 11], id="clustered"),
]


@pytest.mark.parametrize(
    "ref_idx, group",
    [pytest.param(*p.values, ["run"], id=p.id) for p in REF_PATTERNS]
    + [pytest.param(*p.values, None, id=f"{p.id}-keyless") for p in REF_PATTERNS],
)
def test_interp_references_matches_numpy(spark, ref_idx, group):
    """Both window shapes: partitioned by the run key, and the key-less
    ordered global spec (the single-run call shape)."""
    n = 14
    rng = np.random.default_rng(7)
    vals = np.round(rng.uniform(10, 100, n), 2)
    is_ref = np.zeros(n, dtype=bool)
    is_ref[ref_idx] = True

    pdf = pd.DataFrame(
        {"idx": np.arange(n), "i": vals, "is_ref": is_ref, "run": "r0"}
    )
    df = spark.createDataFrame(pdf)
    out = (
        interp_references(df, group=group, idx="idx", is_ref="is_ref", value="i")
        .orderBy("idx")
        .toPandas()
    )
    expected = interp_refs_numpy(vals, np.array(ref_idx))
    np.testing.assert_allclose(out["iref"].to_numpy(), expected, rtol=1e-12, atol=0)


def test_interp_references_multiple_groups(spark):
    """Groups interpolate independently (the 100 TB layout: one window
    partition per run); a NULL run key is a group of its own, as
    ``groupBy`` places it."""
    rng = np.random.default_rng(11)
    frames = []
    patterns = {"a": [0, 5, 9], "b": [3], "c": [1, 8], None: [2, 4, 7]}
    n = 10
    for run, refs in patterns.items():
        vals = np.round(rng.uniform(1, 50, n), 2)
        is_ref = np.zeros(n, dtype=bool)
        is_ref[refs] = True
        frames.append(
            pd.DataFrame({"idx": np.arange(n), "i": vals, "is_ref": is_ref, "run": run})
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    out = interp_references(df, group=["run"], idx="idx", is_ref="is_ref", value="i").toPandas()
    for run, refs in patterns.items():
        sub = (out[out.run.isna()] if run is None else out[out.run == run]).sort_values("idx")
        vals = (pdf[pdf.run.isna()] if run is None else pdf[pdf.run == run]).sort_values("idx")["i"].to_numpy()
        expected = interp_refs_numpy(vals, np.array(refs))
        np.testing.assert_allclose(sub["iref"].to_numpy(), expected, rtol=1e-12, atol=0)


def average_scan_numpy(scan, diff, is_ref):
    """Behavioral oracle for trx/dataReduction.py:159-196 (scalar data):
    noise before subsampling, mean over subsampled rows, err over full
    count, chi2 on subsampled rows."""
    out = {}
    for t in np.unique(scan):
        sel = scan == t
        d = diff[sel]
        noise = np.nanstd(d)  # ddof=0
        d_used = d[::2] if np.array_equal(sel, is_ref) else d
        mean = np.nanmean(d_used)
        chi2 = ((d_used - mean) / noise) ** 2
        out[t] = dict(
            n_shots=int(sel.sum()),
            n_used=len(d_used),
            mean_diff=mean,
            noise=noise,
            err_of_mean=noise / np.sqrt(sel.sum()),
            mean_chi2_0=float(np.mean(chi2)),
            max_chi2_0=float(np.max(chi2)),
        )
    return out


def test_average_scan_points_matches_numpy(spark):
    rng = np.random.default_rng(3)
    n = 60
    scans = np.array(["off", "100ps", "1ns"])[rng.integers(0, 3, n)]
    is_ref = scans == "off"
    diff = np.round(rng.normal(0, 5, n), 3)
    pdf = pd.DataFrame(
        {"idx": np.arange(n), "scan": scans, "is_ref": is_ref, "diff": diff}
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["scan"]: r.asDict()
        for r in average_scan_points(
            df, scan="scan", idx="idx", is_ref="is_ref", diff="diff"
        ).collect()
    }
    expected = average_scan_numpy(scans, diff, is_ref)
    assert set(got) == set(expected)
    for t, exp in expected.items():
        g = got[t]
        assert g["n_shots"] == exp["n_shots"]
        assert g["n_used"] == exp["n_used"]
        for k in ("mean_diff", "noise", "err_of_mean", "mean_chi2_0", "max_chi2_0"):
            np.testing.assert_allclose(g[k], exp[k], rtol=1e-9, err_msg=f"{t}.{k}")


def test_average_scan_points_refs_span_two_scan_values(spark):
    """W2 trigger edge: references spread over TWO scan values (e.g.
    unrounded reference delays). Neither all-ref scan point equals the
    ENTIRE reference set (np.all(shot_idx == isRef) is False for both,
    trx/dataReduction.py:177), so the reference subsamples NEITHER —
    n_used must equal n_shots everywhere."""
    rng = np.random.default_rng(5)
    n = 40
    scans = np.array(["off_a", "off_b", "100ps", "1ns"])[rng.integers(0, 4, n)]
    is_ref = np.isin(scans, ["off_a", "off_b"])
    diff = np.round(rng.normal(0, 5, n), 3)
    pdf = pd.DataFrame(
        {"idx": np.arange(n), "scan": scans, "is_ref": is_ref, "diff": diff}
    )
    got = {
        r["scan"]: r.asDict()
        for r in average_scan_points(
            spark.createDataFrame(pdf), scan="scan", idx="idx", is_ref="is_ref", diff="diff"
        ).collect()
    }
    expected = average_scan_numpy(scans, diff, is_ref)
    for t, exp in expected.items():
        assert got[t]["n_used"] == got[t]["n_shots"] == exp["n_shots"], t
        np.testing.assert_allclose(got[t]["mean_diff"], exp["mean_diff"], rtol=1e-9)


def test_time_resolved_diff_ratio_and_lpower(spark):
    """useRatio and lpower branches (dataReduction.py:144-157)."""
    pdf = pd.DataFrame(
        {
            "idx": range(6),
            "i": [10.0, 20.0, 12.0, 24.0, 14.0, 28.0],
            "is_ref": [True, False, True, False, True, False],
            "lp": [2.0] * 6,
            "run": "r",
        }
    )
    df = spark.createDataFrame(pdf)
    ratio = (
        time_resolved_diff(
            df, group=["run"], idx="idx", is_ref="is_ref", value="i", use_ratio=True
        )
        .orderBy("idx")
        .toPandas()
    )
    # row 1 sits between refs 0 (i=10) and 2 (i=12) → iref = 11 → ratio 20/11
    np.testing.assert_allclose(ratio.loc[1, "diff"], 20.0 / 11.0, rtol=1e-12)
    lp = (
        time_resolved_diff(
            df,
            group=["run"],
            idx="idx",
            is_ref="is_ref",
            value="i",
            use_ratio=True,
            lpower="lp",
        )
        .orderBy("idx")
        .toPandas()
    )
    np.testing.assert_allclose(lp.loc[1, "diff"], (20.0 / 11.0 - 1) / 2.0 + 1, rtol=1e-12)


def test_no_refs_group_yields_null(spark):
    """Zero references: the reference crashes; we define iref = NULL
    (documented deviation — NULL propagates through diff)."""
    pdf = pd.DataFrame(
        {"idx": range(3), "i": [1.0, 2.0, 3.0], "is_ref": [False] * 3, "run": "r"}
    )
    out = interp_references(
        spark.createDataFrame(pdf), group=["run"], idx="idx", is_ref="is_ref", value="i"
    ).toPandas()
    assert out["iref"].isna().all()


def test_chi2_per_shot_curves_matches_numpy(spark):
    """Two-axis chi2 (the q-sum at dataReduction.py:190): rectangular
    data[n, nQ] against a direct numpy computation."""
    from trx_spark.operators.reduction import chi2_0_per_shot_curves

    rng = np.random.default_rng(21)
    n, nq = 24, 5
    scans = np.array(["off", "a", "b"])[rng.integers(0, 3, n)]
    is_ref = scans == "off"
    data = np.round(rng.normal(0, 3, (n, nq)), 3)

    rows = []
    for shot in range(n):
        for q in range(nq):
            rows.append(
                dict(
                    file=f"f{shot:03d}",
                    scan=scans[shot],
                    q_idx=q,
                    idx=shot,
                    is_ref=bool(is_ref[shot]),
                    diff=float(data[shot, q]),
                )
            )
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        (r["file"], r["scan"]): (r["chi2_0"], r["n_q"])
        for r in chi2_0_per_shot_curves(
            df, shot="file", scan="scan", q="q_idx", idx="idx", is_ref="is_ref", diff="diff"
        ).collect()
    }

    # numpy: per scan point — noise per q over ALL shots, mean per q over
    # used shots, chi2 per used shot = sum_q z^2 / nQ
    expected = {}
    for t in np.unique(scans):
        sel = scans == t
        d = data[sel]
        noise = np.nanstd(d, axis=0)
        d_used = d[::2] if np.array_equal(sel, is_ref) else d
        mean = np.nanmean(d_used, axis=0)
        chi2 = np.nansum(((d_used - mean) / noise) ** 2, axis=-1) / nq
        used_shots = np.flatnonzero(sel)[:: 2 if np.array_equal(sel, is_ref) else 1]
        for k, shot in enumerate(used_shots):
            expected[(f"f{shot:03d}", t)] = chi2[k]

    assert set(got) == set(expected)
    for key, exp in expected.items():
        np.testing.assert_allclose(got[key][0], exp, rtol=1e-9, err_msg=str(key))
        assert got[key][1] == nq
