"""The literal-codebook scoring path must be bit-identical to the
DataFrame path it replaced: same dots (identical fixed-point fold,
literal vs column operand), same argmax tie-breaking (array_max struct
ordering vs groupBy max(struct)), same trained centroids (fused
assign+update vs join+update), and the driver-Python dot twin must
reproduce the JVM fold exactly."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from trx_spark.exact import EMB_SCALE, dot_fixed_py
from trx_spark.operators.kmeans import (
    argmax_cell,
    assign_literal,
    collect_codebook,
    lloyd_centroids,
    lloyd_centroids_collected,
    score_cells,
    update_centroids_literal,
)
from trx_spark.tables import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def _codebook_df(emb, k):
    return emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )


def test_assign_literal_equals_dataframe_path(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents_df = _codebook_df(emb, 8)
    cents = collect_codebook(cents_df)
    want = {
        r["vec_id"]: (r["cid"], r["dot"])
        for r in argmax_cell(score_cells(emb, cents_df)).collect()
    }
    got = {
        r["vec_id"]: (r["cid"], r["dot"])
        for r in assign_literal(emb, cents).collect()
    }
    assert got == want  # dots bit-equal, ties broken identically


def test_trained_centroids_equal_dataframe_path(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    want = collect_codebook(lloyd_centroids(emb, k=8, updates=1))
    got = lloyd_centroids_collected(emb, k=8, updates=1)
    assert got == want  # fused map-side assign+update, same sums


def test_update_centroids_literal_matches_python_fold(spark, sf_dir):
    """The fused update's fixed-point sums equal a driver recomputation
    from the literal assignment — pins the two-select generator shape
    (struct aliases survive the posexplode rewrite)."""
    emb = _emb(spark, sf_dir)
    cents = collect_codebook(_codebook_df(emb, 4))
    upd = collect_codebook(update_centroids_literal(emb, cents))
    rows = [(int(r[0]), [float(v) for v in r[1]]) for r in emb.collect()]
    sums: dict = {}
    for _vid, vec in rows:
        best = max(
            ((dot_fixed_py(vec, c, EMB_SCALE), -cid) for cid, c in cents),
        )
        cid = -best[1]
        s, n = sums.setdefault(cid, ([0] * len(vec), 0))
        for pos, x in enumerate(vec):
            s[pos] += math.floor(float(x) * EMB_SCALE)
        sums[cid] = (s, n + 1)
    want = sorted(
        (cid, [(si / EMB_SCALE) / n for si in s]) for cid, (s, n) in sums.items()
    )
    assert upd == want


def test_literal_size_guard_falls_back_to_dataframe_path(
    spark, sf_dir, monkeypatch
):
    """Above _LITERAL_SQL_MAX_BYTES the literal builders must switch to
    the broadcast-join path and still return identical rows — so a
    future k/dim bump can't silently hand Catalyst a multi-MB plan."""
    from trx_spark.operators import kmeans

    emb = _emb(spark, sf_dir)
    cents = collect_codebook(_codebook_df(emb, 8))
    want = {
        r["vec_id"]: (r["cid"], r["dot"])
        for r in assign_literal(emb, cents).collect()
    }
    upd_want = collect_codebook(update_centroids_literal(emb, cents))
    monkeypatch.setattr(kmeans, "_LITERAL_SQL_MAX_BYTES", 64)
    fb = assign_literal(emb, cents)
    # the guard really fired: the fallback is the broadcast-JOIN path
    # (the literal path is a pure map-side projection, no join at all)
    assert "Join" in fb._jdf.queryExecution().optimizedPlan().toString()
    got = {r["vec_id"]: (r["cid"], r["dot"]) for r in fb.collect()}
    assert got == want
    assert collect_codebook(update_centroids_literal(emb, cents)) == upd_want


def test_dot_fixed_py_matches_jvm_fold(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = collect_codebook(_codebook_df(emb, 3))
    jvm = {
        (r["vec_id"], r["cid"]): r["dot"]
        for r in score_cells(emb, _codebook_df(emb, 3)).collect()
    }
    vecs = {int(r[0]): [float(v) for v in r[1]] for r in emb.collect()}
    for (vid, cid), dot in jvm.items():
        c = dict(cents)[cid]
        assert dot_fixed_py(vecs[vid], c, EMB_SCALE) == dot  # bit-equal doubles
