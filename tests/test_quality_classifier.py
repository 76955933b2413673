"""The distributed logistic-regression trainer must reproduce a
pure-numpy full-batch GD exactly (same featurization, same update
rule; floats to 1e-9 — double sums over 64-dim vectors), and the
trained scores must actually separate the target source."""

from __future__ import annotations

import re

import numpy as np
import pyarrow.parquet as pq
import pytest

from trx_spark.queries.classifier import (
    _BIAS_DIM,
    _CLF_ITERS,
    _CLF_LR,
    quality_classifier_scores,
    quality_classifier_weights,
)
from trx_spark.queries.curation import _DSIR_TARGET_SOURCE
from trx_spark.queries.ranking import _FH_DIM, _FH_SIGN_A, _FH_SIGN_B
from trx_spark.queries.textdata import _P

_TOKEN_RE = re.compile("[a-z]+")


def _tok_hash(t: str) -> int:
    acc = 0
    for ch in t:
        acc = (acc * 31 + ord(ch)) % _P
    return acc


def _ref_features(docs):
    """doc_id -> (dense x[_FH_DIM], y) mirroring hashed_tf_features +
    L1 normalization; zero-token docs are skipped."""
    out = {}
    for doc_id, text, source in docs:
        toks = _TOKEN_RE.findall(text)
        if not toks:
            continue
        v = np.zeros(_FH_DIM)
        for t in toks:
            tid = _tok_hash(t)
            sign = 1 if ((_FH_SIGN_A * tid + _FH_SIGN_B) % _P) % 2 == 0 else -1
            v[tid % _FH_DIM] += sign
        n1 = np.abs(v).sum()
        if n1 == 0:
            # signs fully cancelled -> no feature rows -> no doc row
            continue
        out[doc_id] = (v / n1, 1.0 if source == _DSIR_TARGET_SOURCE else 0.0)
    return out


def _ref_train(feats):
    ids = sorted(feats)
    X = np.array([feats[d][0] for d in ids])
    y = np.array([feats[d][1] for d in ids])
    w = np.zeros(_FH_DIM)
    b = 0.0
    n = len(ids)
    for _ in range(_CLF_ITERS):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        e = p - y
        w = w - _CLF_LR * (X.T @ e) / n
        b = b - _CLF_LR * e.sum() / n
    return ids, X, y, w, b


def test_matches_numpy_gd(spark, sf_dir):
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "source"]
    )
    docs = list(zip(*(tbl[c].to_pylist() for c in ["doc_id", "text", "source"])))
    feats = _ref_features(docs)
    ids, X, y, w, b = _ref_train(feats)

    got_w = {
        r["dim"]: r["weight"]
        for r in quality_classifier_weights(spark, sf_dir).collect()
    }
    assert got_w.pop(_BIAS_DIM) == pytest.approx(b, abs=1e-9)
    for j in range(_FH_DIM):
        assert got_w[j] == pytest.approx(w[j], abs=1e-9)

    got_s = {
        r["doc_id"]: (r["label"], r["score"])
        for r in quality_classifier_scores(spark, sf_dir).collect()
    }
    assert set(got_s) == set(ids)
    p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
    for d, pi, yi in zip(ids, p, y):
        assert got_s[d][0] == yi
        assert got_s[d][1] == pytest.approx(pi, abs=1e-9)


def test_scores_separate_lexically_distinct_sources(spark, tmp_path_factory):
    """The driver testdata draws every source from one vocabulary
    (inseparable by construction — the golden test above covers it);
    on a corpus where the target source IS lexically distinct, the
    trained scores must separate it."""
    d = tmp_path_factory.mktemp("clf")
    wiki = "theory experiment physics electron detector beamline energy"
    spam = "click buy cheap deal offer winner prize claim bonus now"
    rows = []
    for i in range(40):
        words = (wiki if i % 2 == 0 else spam).split()
        text = " ".join(words[(i + j) % len(words)] for j in range(30))
        rows.append(
            (i, text, _DSIR_TARGET_SOURCE if i % 2 == 0 else "junk", "en", len(text))
        )
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = quality_classifier_scores(spark, str(d)).collect()
    pos = [r["score"] for r in out if r["label"] == 1.0]
    neg = [r["score"] for r in out if r["label"] == 0.0]
    assert pos and neg
    assert min(pos) > max(neg)  # fully separated
    acc = np.mean([(r["score"] > 0.5) == (r["label"] == 1.0) for r in out])
    assert acc == 1.0


def test_gd_round_stats_match_numpy_round1(spark, sf_dir):
    """The fixed-point round-1 statistics (the driver-hashed gate
    surface) must reconstruct the numpy trainer's first gradient to
    within the fixed-point truncation bound (≤ 1/S per addend)."""
    from trx_spark.exact import EMB_SCALE
    from trx_spark.queries.classifier import classifier_gd_round_stats

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "source"]
    )
    docs = list(zip(*(tbl[c].to_pylist() for c in ["doc_id", "text", "source"])))
    feats = _ref_features(docs)
    ids = sorted(feats)
    X = np.array([feats[d][0] for d in ids])
    y = np.array([feats[d][1] for d in ids])
    n = len(ids)
    # round 1 at w=0: e = 1/2 - y exactly
    g_ref = X.T @ (0.5 - y)          # per-dim gradient * n... (before /n)
    gb_ref = (0.5 - y).sum()         # bias channel

    got = {
        r["dim"]: r
        for r in classifier_gd_round_stats(spark, sf_dir).collect()
    }
    assert got[_BIAS_DIM]["n_rows"] == n
    assert got[_BIAS_DIM]["n_pos"] == int(y.sum())
    for j in range(_FH_DIM):
        if j not in got:
            # a dim with no feature rows at this sf — gradient is 0
            assert g_ref[j] == 0.0
            continue
        r = got[j]
        # g[dim]·(-1) = (gq_pos - gq_neg)/(2·S); truncation ≤ n_rows/S
        g_fp = (r["gq_neg"] - r["gq_pos"]) / (2.0 * EMB_SCALE)
        assert abs(g_fp - g_ref[j]) <= (r["n_rows"] + 1) / EMB_SCALE
    gb_fp = (got[_BIAS_DIM]["gq_neg"] - got[_BIAS_DIM]["gq_pos"]) / (2.0 * EMB_SCALE)
    assert gb_fp == pytest.approx(gb_ref, abs=(n + 1) / EMB_SCALE)


def test_weight_literal_size_guard_falls_back_to_dataframe(
    spark, sf_dir, monkeypatch
):
    """Above kmeans._LITERAL_SQL_MAX_BYTES the per-round weight
    relation switches from the VALUES literal to createDataFrame, and
    training still yields bit-identical weights."""
    from trx_spark.cache import clear_stage_caches
    from trx_spark.operators import kmeans
    from trx_spark.queries.classifier import _w_df

    def weights():
        return sorted(
            (r["dim"], r["weight"])
            for r in quality_classifier_weights(spark, sf_dir).collect()
        )

    clear_stage_caches()
    want = weights()
    monkeypatch.setattr(kmeans, "_LITERAL_SQL_MAX_BYTES", 64)
    # the guard really fired: the fallback is an RDD scan, not the
    # VALUES LocalRelation
    plan = _w_df(spark, {0: 0.5, _BIAS_DIM: -0.25})._jdf.queryExecution()
    assert "LocalRelation" not in plan.analyzed().toString()
    clear_stage_caches()
    try:
        assert weights() == want
    finally:
        clear_stage_caches()
