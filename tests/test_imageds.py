"""The `detector_image` Python data source (PySpark 4 DataSource API):
spark.read.format over every real codec, partition-per-file
parallelism, and filter pushdown — file predicates prune partitions
(files never opened), frame predicates skip entropy decode at the
container level."""

from __future__ import annotations

import gzip

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    StringEndsWith,
)

from trx_spark.operators.multimodal import (
    decode_jpeg,
    encode_avi_mjpeg,
    encode_edf,
    encode_png,
    encode_tiff,
    png_luma,
)
from trx_spark.sources.imageds import (
    DetectorImageReader,
    _matches_frame,
    register_image_datasource,
)


@pytest.fixture()
def folder(tmp_path):
    rng = np.random.default_rng(5)
    truth = {}
    e0 = rng.integers(0, 1000, (4, 6)).astype("u2")
    truth["a_run.edf"] = {0: e0.astype(float)}
    (tmp_path / "a_run.edf").write_bytes(encode_edf(e0))
    rgb = rng.integers(0, 256, (4, 6, 3))
    truth["b_img.png.gz"] = {0: png_luma(rgb).astype(float)}
    (tmp_path / "b_img.png.gz").write_bytes(gzip.compress(encode_png(rgb)))
    frames = [
        np.repeat(np.repeat(rng.integers(0, 256, (1, 1)), 8, 0), 8, 1)
        for _ in range(4)
    ]
    truth["c_clip.avi"] = {k: f.astype(float) for k, f in enumerate(frames)}
    (tmp_path / "c_clip.avi").write_bytes(encode_avi_mjpeg(frames))
    t = rng.integers(0, 60000, (4, 6)).astype("u2")
    truth["d_img.tif"] = {0: t.astype(float)}
    (tmp_path / "d_img.tif").write_bytes(encode_tiff(t, compression=32773))
    return tmp_path, truth


def test_datasource_reads_every_codec(spark, folder):
    tmp_path, truth = folder
    register_image_datasource(spark)
    df = (
        spark.read.format("detector_image")
        .option("path", str(tmp_path / "*"))
        .load()
    )
    assert df.columns == ["file", "frame", "y", "x", "intensity"]
    pdf = df.toPandas()
    assert len(pdf) == 24 + 24 + 4 * 64 + 24
    for fname, frames in truth.items():
        for fi, img in frames.items():
            sub = pdf[
                pdf.file.str.endswith(fname) & (pdf.frame == fi)
            ].sort_values(["y", "x"])
            np.testing.assert_array_equal(
                sub["intensity"].to_numpy().reshape(img.shape), img
            )


def test_datasource_file_pushdown_prunes_partitions(spark, folder):
    tmp_path, truth = folder
    # unit level: the reader consumes file predicates and prunes the
    # partition list — pruned files are never opened
    r = DetectorImageReader({"path": str(tmp_path / "*")})
    rest = list(r.pushFilters([StringEndsWith(("file",), "a_run.edf")]))
    assert rest == []
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].path.endswith("a_run.edf")
    r2 = DetectorImageReader({"path": str(tmp_path / "*")})
    target = (str(tmp_path / "a_run.edf"), str(tmp_path / "c_clip.avi"))
    list(r2.pushFilters([In(("file",), target)]))
    assert sorted(p.path for p in r2.partitions()) == sorted(target)
    # an unsupported predicate is yielded back for Spark to evaluate
    r3 = DetectorImageReader({"path": str(tmp_path / "*")})
    leftover = list(r3.pushFilters([GreaterThanOrEqual(("intensity",), 5.0)]))
    assert len(leftover) == 1
    # end to end through the planner
    register_image_datasource(spark)
    df = (
        spark.read.format("detector_image")
        .option("path", str(tmp_path / "*"))
        .load()
        .filter(F.col("file").endswith("a_run.edf"))
    )
    pdf = df.toPandas()
    assert len(pdf) == 24
    np.testing.assert_array_equal(
        pdf.sort_values(["y", "x"])["intensity"].to_numpy().reshape(4, 6),
        truth["a_run.edf"][0],
    )


def test_datasource_frame_pushdown(spark, folder):
    tmp_path, truth = folder
    register_image_datasource(spark)
    df = (
        spark.read.format("detector_image")
        .option("path", str(tmp_path / "c_clip.avi"))
        .load()
        .filter(F.col("frame") >= 2)
    )
    pdf = df.toPandas()
    assert sorted(set(pdf.frame)) == [2, 3]
    for fi in (2, 3):
        sub = pdf[pdf.frame == fi].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(8, 8),
            truth["c_clip.avi"][fi],
        )
    # predicate evaluator semantics
    assert _matches_frame([EqualTo(("frame",), 2)], 2)
    assert not _matches_frame([EqualTo(("frame",), 2)], 3)
    assert _matches_frame([GreaterThanOrEqual(("frame",), 1)], 1)


def test_datasource_empty_glob_is_empty_frame(spark, tmp_path):
    register_image_datasource(spark)
    df = (
        spark.read.format("detector_image")
        .option("path", str(tmp_path / "nothing_*"))
        .load()
    )
    assert df.count() == 0


def test_datasource_missing_path_option_raises(spark):
    register_image_datasource(spark)
    with pytest.raises(Exception, match="path"):
        spark.read.format("detector_image").load().count()


def test_package_zip_is_built_fresh_not_reused(tmp_path, monkeypatch):
    """The shipped package holds the current source, even when the temp
    dir keeps a zip that an earlier process left under this pid."""
    import os
    import tempfile
    import zipfile

    from trx_spark.sources import imageds

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    (tmp_path / f"trx_spark_pkg_{os.getpid()}.zip").write_bytes(b"stale")
    imageds._package_zip.cache_clear()
    try:
        path = imageds._package_zip()
        assert imageds._package_zip() == path  # built once per process
        with zipfile.ZipFile(path) as zf:
            shipped = zf.read("trx_spark/sources/imageds.py")
        with open(imageds.__file__, "rb") as fh:
            assert shipped == fh.read()
    finally:
        imageds._package_zip.cache_clear()
