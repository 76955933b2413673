"""Regression tests for the round-2 self-review findings on operator
edge semantics (ref-less groups, NULL group keys, cross-run shot-id
collisions, salted-join contract)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trx_spark.operators import reduction
from trx_spark.operators.skew import salted_join


def test_diffs_plus_ref_keeps_refless_groups(spark):
    """A group with no reference shots keeps its scan points with a
    null add-back (trx propagates NaN, dataReduction.py:199) — it must
    not vanish through an inner join."""
    shots = spark.createDataFrame(
        pd.DataFrame(
            {
                "run": ["a"] * 4 + ["b"] * 2,
                "idx": [1, 2, 3, 4, 1, 2],
                "is_ref": [True, False, True, False, False, False],
                "i": [1.0, 5.0, 3.0, 7.0, 9.0, 11.0],
            }
        )
    )
    sp = spark.createDataFrame(
        pd.DataFrame({"run": ["a", "b"], "scan": ["s", "s"], "mean_diff": [4.0, 10.0]})
    )
    out = {
        r["run"]: (r["ref_avg"], r["diff_plus_ref"])
        for r in reduction.diffs_plus_ref(
            sp, shots, group=["run"], is_ref="is_ref", value="i", diff="mean_diff"
        ).collect()
    }
    assert out["a"] == (2.0, 6.0)
    assert "b" in out, "ref-less group must survive"
    assert out["b"][0] is None and out["b"][1] is None


def test_interp_references_null_valued_ref_keeps_its_rung(spark):
    """A reference shot whose value is NULL is still the first rung of
    the ladder: the shots before it clamp to it (NULL), not to the next
    ref with a value."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "run": ["a"] * 5,
                "idx": [0, 1, 2, 3, 4],
                "is_ref": [False, True, False, True, False],
                "i": [1.0, None, 5.0, 7.0, 9.0],
            }
        )
    )
    out = {
        r["idx"]: r["iref"]
        for r in reduction.interp_references(df, group=["run"]).collect()
    }
    assert out[0] is None
    assert out[4] == 7.0  # after the last ref: its value


def test_average_scan_points_keeps_null_group_keys(spark):
    """Shots whose group key is NULL form their own group (as groupBy
    does) — the totals join back must be null-safe, not drop them."""
    pdf = pd.DataFrame(
        {
            "run": ["a", "a", None, None],
            "scan": ["s1", "s1", "s2", "s2"],
            "idx": [1, 2, 1, 2],
            "is_ref": [True, False, True, False],
            "diff": [0.0, 2.0, 0.0, 4.0],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "run", F.col("run").cast("string")
    )
    out = reduction.average_scan_points(
        df, scan="scan", group=["run"], idx="idx", is_ref="is_ref", diff="diff"
    ).collect()
    by_key = {(r["run"], r["scan"]): r["n_shots"] for r in out}
    assert by_key == {("a", "s1"): 2, (None, "s2"): 2}


def test_chi2_per_shot_curves_separates_runs(spark):
    """Shot ids repeat across runs (per-run folders): the q-summed
    chi2_0 must stay per (run, shot), never blended across runs."""
    rows = []
    for run, scale in [("r1", 1.0), ("r2", 100.0)]:
        for idx, (fname, scan) in enumerate(
            [("img_1", "off"), ("img_2", "on"), ("img_3", "on")], start=1
        ):
            for q in range(2):
                rows.append(
                    dict(run=run, file=fname, scan=scan, q_idx=q, idx=idx,
                         is_ref=(scan == "off"),
                         diff=scale * (idx + q))
                )
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = reduction.chi2_0_per_shot_curves(
        df, shot="file", scan="scan", q="q_idx", group=["run"], idx="idx",
        is_ref="is_ref", diff="diff",
    ).collect()
    assert {"run"} <= set(out[0].asDict()), "output must carry the run key"
    scores = {
        (r["run"], r["file"]): r["chi2_0"] for r in out if r["scan"] == "on"
    }
    assert len(scores) == 4  # 2 runs × 2 'on' shots — NOT blended to 2
    # same geometry, different scale → z-scores are scale-invariant, so
    # each run's scores equal its twin's (but live in separate rows)
    for (run, f), v in scores.items():
        twin = scores[("r2" if run == "r1" else "r1", f)]
        np.testing.assert_allclose(v, twin, rtol=1e-12)


def test_salted_join_contract(spark):
    big = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "rid": [None, 7]}),
        "k string, rid int",
    )
    small = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "w": [1.0, 2.0]}))
    # NULL salt source must not drop the row
    got = salted_join(big, small, on="k", salt_src="rid", n_salt=8).collect()
    assert {r["k"] for r in got} == {"a", "b"}
    # outer modes that would duplicate unmatched small-side rows are rejected
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, on="k", salt_src="rid", n_salt=8, how="full")


def test_short_docs_emit_no_shingles_not_crash(spark, tmp_path):
    """Spark's sequence(1, 0) is the DESCENDING [1, 0], so ungated
    shingle/bigram generators called slice(toks, 0, k) and CRASHED on
    any doc with fewer tokens than the window — such docs must simply
    emit nothing (the DuckDB oracle's generate_series(1,0) is empty)."""
    import pandas as pd

    from trx_spark.queries.curation import _bigram_stream, _shingled

    d = tmp_path / "short_sf"
    d.mkdir()
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "only three tokens",                      # < 8 and < SHINGLE_N
                "1234 5678",                              # zero [a-z]+ tokens
                "one two three four five six seven eight nine ten",
            ],
            "source": ["s"] * 3,
            "lang": ["en"] * 3,
            "n_chars": [17, 9, 48],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    sh = _shingled(spark, str(d)).toPandas()
    assert set(sh["doc_id"]) == {3}
    assert len(sh) == 3  # 10 tokens -> 3 distinct 8-gram shingles
    bg = _bigram_stream(spark, str(d)).toPandas()
    assert sorted(bg.groupby("doc_id").size().items()) == [(1, 2), (3, 9)]
