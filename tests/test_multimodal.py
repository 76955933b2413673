"""Multimodal plumbing: binary asset manifest, mapInPandas decode stub
(deterministic fake), frame-sample schedule."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trx_spark.operators.multimodal import (
    audio_frame_features,
    decode_image,
    decode_video,
    frame_sample,
    image_features,
    read_binary_assets,
    resize_pixels,
)


@pytest.fixture()
def assets(spark, tmp_path):
    for k in range(2):
        (tmp_path / f"img_{k}.bin").write_bytes(bytes([k]) * 64)
    return read_binary_assets(spark, str(tmp_path / "*.bin"), "image")


def test_manifest(assets):
    rows = assets.collect()
    assert len(rows) == 2
    assert all(r["modality"] == "image" and r["n_bytes"] == 64 for r in rows)
    assert len({r["content_sha256"] for r in rows}) == 2


def test_decode_fake_is_deterministic(assets):
    px = decode_image(assets, shape=(8, 8))
    agg = px.groupBy("file").agg(
        F.count(F.lit(1)).alias("n"), F.sum("intensity").alias("s")
    )
    rows1 = {r["file"]: (r["n"], r["s"]) for r in agg.collect()}
    rows2 = {r["file"]: (r["n"], r["s"]) for r in agg.collect()}
    assert rows1 == rows2  # content-hash seeded → stable
    assert all(n == 64 for n, _ in rows1.values())  # 1 file → H·W rows


def test_edf_roundtrip_kernel():
    """decode_edf(encode_edf(img)) == img for every supported dtype and
    both byte orders (pure-numpy EDF codec, public ESRF spec)."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_edf, encode_edf

    rng = np.random.default_rng(7)
    for dt in ("u2", "i4", "f4", "f8"):
        for order in ("LowByteFirst", "HighByteFirst"):
            img = (rng.uniform(0, 1000, (5, 7))).astype(dt)
            blob = encode_edf(img, byte_order=order)
            assert len(blob) % 512 == img.nbytes % 512  # padded header
            back, hdr = decode_edf(blob)
            np.testing.assert_array_equal(back, img)
            assert hdr["Dim_1"] == "7" and hdr["Dim_2"] == "5"


def test_decode_edf_distributed(spark, tmp_path):
    """The REAL codec path (S1/U1): EDF blobs through binaryFile →
    mapInPandas → exact pixel values, 1 file → H·W rows."""
    import numpy as np

    from trx_spark.operators.multimodal import encode_edf

    rng = np.random.default_rng(11)
    truth = {}
    for k in range(3):
        img = rng.poisson(100, (6, 4)).astype("u2")
        truth[f"edf_{k}.edf"] = img
        (tmp_path / f"edf_{k}.edf").write_bytes(encode_edf(img))
    assets = read_binary_assets(spark, str(tmp_path / "*.edf"), "image")
    px = decode_image(assets, codec="edf").toPandas()
    assert len(px) == 3 * 6 * 4
    for fname, img in truth.items():
        sub = px[px.file.str.endswith(fname)].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(6, 4), img.astype(float)
        )


def test_decode_unknown_codec_raises(assets):
    with pytest.raises(Exception, match="codec"):
        decode_image(assets, shape=(4, 4), codec="mp4").collect()


def test_edf_through_e1_pipeline(spark, tmp_path):
    """The full S1→E1 journey with the REAL codec: EDF files on disk →
    binaryFile scan → mapInPandas decode → geometry join → azimuthal
    integration. Flat images of known value ⇒ every curve bin equals
    that value exactly."""
    import numpy as np
    import pandas as pd

    from trx_spark.operators.multimodal import encode_edf
    from trx_spark.pipeline import IntegrationConfig, integrate_folder

    ny = nx = 12
    for k, base in enumerate([50, 75]):
        img = np.full((ny, nx), base, dtype="u2")
        (tmp_path / f"run_{k}.edf").write_bytes(encode_edf(img))
    assets = read_binary_assets(spark, str(tmp_path / "*.edf"), "image")
    pixels = decode_image(assets, codec="edf")

    yy, xx = np.mgrid[0:ny, 0:nx]
    r = np.hypot(xx - nx / 2, yy - ny / 2)
    geom = spark.createDataFrame(
        pd.DataFrame(
            {
                "y": yy.ravel(),
                "x": xx.ravel(),
                "q": (r / r.max() * 2.0).ravel(),
                "chi": np.zeros(ny * nx),
                "solid_angle": np.ones(ny * nx),
                "pol_corr": np.ones(ny * nx),
            }
        )
    )
    curves = integrate_folder(
        pixels, geom, IntegrationConfig(q_min=0.0, q_max=2.0, n_bins=5)
    )
    pdf = curves.toPandas()
    assert pdf["n_pix"].sum() == 2 * ny * nx
    for fname, base in [("run_0.edf", 50.0), ("run_1.edf", 75.0)]:
        sub = pdf[pdf.file.str.endswith(fname)]
        np.testing.assert_allclose(sub["i"], base, rtol=1e-12)


def test_frame_sample_schedule(assets):
    rows = frame_sample(assets, every_n=5, max_frames=4).collect()
    per_file = {}
    for r in rows:
        per_file.setdefault(r["file"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 5, 10, 15] for v in per_file.values())


def test_resize_pixels_block_mean(spark):
    # 4x4 gradient image; factor-2 mean resize has closed-form blocks
    img = np.arange(16, dtype="f8").reshape(4, 4)
    iy, ix = np.mgrid[0:4, 0:4]
    pixels = spark.createDataFrame(
        pd.DataFrame(
            {"file": "a", "y": iy.ravel(), "x": ix.ravel(), "intensity": img.ravel()}
        )
    )
    got = {
        (r["y"], r["x"]): r["intensity"]
        for r in resize_pixels(pixels, factor=2).collect()
    }
    # block (0,0) = mean(0,1,4,5) = 2.5 etc.
    assert got == {(0, 0): 2.5, (0, 1): 4.5, (1, 0): 10.5, (1, 1): 12.5}
    got_max = {
        (r["y"], r["x"]): r["intensity"]
        for r in resize_pixels(pixels, factor=2, agg="max").collect()
    }
    assert got_max == {(0, 0): 5.0, (0, 1): 7.0, (1, 0): 13.0, (1, 1): 15.0}


def test_image_features_centroid(spark):
    # all intensity concentrated at (x=3, y=1) → centroid is exactly there
    rows = [
        {"file": "a", "y": y, "x": x, "intensity": 0.0}
        for y in range(4)
        for x in range(4)
    ]
    for r in rows:
        if r["x"] == 3 and r["y"] == 1:
            r["intensity"] = 10.0
    feats = image_features(spark.createDataFrame(pd.DataFrame(rows))).collect()
    f = feats[0]
    assert f["n_px"] == 16
    assert f["centroid_x"] == 3.0 and f["centroid_y"] == 1.0
    assert f["max_i"] == 10.0 and f["min_i"] == 0.0


def test_cbf_roundtrip_kernel():
    """decode_cbf(encode_cbf(img)) == img, exercising every escape
    width of the byte_offset stream (1-byte run, int16, int32, int64)."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_cbf, encode_cbf

    rng = np.random.default_rng(13)
    # photon-count-like image: small deltas with occasional huge jumps
    img = rng.poisson(100, (7, 5)).astype("i4")
    img[2, 3] = 2_000_000  # forces an int32 escape both in and out
    img[4, 1] = -40_000  # int16 escape
    blob = encode_cbf(img)
    back, hdr = decode_cbf(blob)
    np.testing.assert_array_equal(back, img)
    assert back.dtype == np.dtype("i4")
    assert hdr["X-Binary-Size-Fastest-Dimension"] == "5"

    big = np.array([[0, 3_000_000_000], [-3_000_000_000, 7]], dtype="i8")
    back2, _ = decode_cbf(encode_cbf(big))
    np.testing.assert_array_equal(back2, big)
    assert back2.dtype == np.dtype("i8")

    # escape payload bytes that themselves contain 0x80 must not be
    # re-interpreted as escape markers
    tricky = np.array([[0, 0x80, 0x80 + 0x8000, 0x80 + 0x8000 + 128]], dtype="i4")
    back3, _ = decode_cbf(encode_cbf(tricky))
    np.testing.assert_array_equal(back3, tricky)


def test_cbf_rejects_other_conversions():
    import numpy as np
    import pytest

    from trx_spark.operators.multimodal import decode_cbf, encode_cbf

    blob = encode_cbf(np.ones((2, 2), dtype="i4"))
    with pytest.raises(ValueError, match="conversions"):
        decode_cbf(blob.replace(b"x-CBF_BYTE_OFFSET", b"x-CBF_CANONICAL"))
    with pytest.raises(ValueError, match="integer"):
        encode_cbf(np.ones((2, 2), dtype="f8"))


def test_decode_cbf_distributed(spark, tmp_path):
    """The REAL CBF codec path (S1/U1 breadth): CBF blobs through
    binaryFile → mapInPandas → exact pixel values."""
    import numpy as np

    from trx_spark.operators.multimodal import encode_cbf

    rng = np.random.default_rng(17)
    truth = {}
    for k in range(3):
        img = rng.poisson(100, (6, 4)).astype("i4")
        img[k, k] = 1_000_000 * (k + 1)  # escape in every file
        truth[f"img_{k}.cbf"] = img
        (tmp_path / f"img_{k}.cbf").write_bytes(encode_cbf(img))
    assets = read_binary_assets(spark, str(tmp_path / "*.cbf"), "image")
    px = decode_image(assets, codec="cbf").toPandas()
    assert len(px) == 3 * 6 * 4
    for fname, img in truth.items():
        sub = px[px.file.str.endswith(fname)].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(6, 4), img.astype(float)
        )


def test_cbf_byte_offset_property():
    """Property: the byte_offset stream round-trips ANY int64-safe pixel
    vector (hypothesis drives delta widths across all four escape
    tiers and marker-colliding payload bytes)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from trx_spark.operators.multimodal import _byte_offset_pack, _byte_offset_unpack

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-(2**40), max_value=2**40),
            min_size=1,
            max_size=64,
        )
    )
    def roundtrip(vals):
        arr = np.array(vals, dtype=np.int64)
        back = _byte_offset_unpack(_byte_offset_pack(arr), len(arr))
        np.testing.assert_array_equal(back, arr)

    roundtrip()


def test_wav_roundtrip_kernel():
    import numpy as np

    from trx_spark.operators.multimodal import decode_wav, encode_wav

    t = np.arange(2048) / 16000.0
    mono = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    back, rate = decode_wav(encode_wav(mono, rate=16000))
    assert rate == 16000 and back.shape == (2048, 1)
    np.testing.assert_allclose(back[:, 0], mono, atol=1.0 / 32768)
    stereo = np.stack([mono, -mono], axis=1)
    back2, _ = decode_wav(encode_wav(stereo))
    assert back2.shape == (2048, 2)
    np.testing.assert_allclose(back2, stereo, atol=1.0 / 32768)


def test_audio_frame_features_distributed(spark, tmp_path):
    """REAL WAV decode through binaryFile → mapInPandas: a 440 Hz sine
    has RMS ≈ amp/√2 and ZCR ≈ 2·f/rate in every full frame; silence
    decodes to rms = 0."""
    import numpy as np

    from trx_spark.operators.multimodal import audio_frame_features, encode_wav

    rate, amp, freq = 16000, 0.5, 440.0
    t = np.arange(rate) / rate
    (tmp_path / "tone.wav").write_bytes(encode_wav(amp * np.sin(2 * np.pi * freq * t), rate=rate))
    (tmp_path / "silence.wav").write_bytes(encode_wav(np.zeros(rate), rate=rate))
    assets = read_binary_assets(spark, str(tmp_path / "*.wav"), "audio")
    feats = audio_frame_features(assets, frame=512, hop=256).toPandas()
    tone = feats[feats.file.str.endswith("tone.wav")]
    sil = feats[feats.file.str.endswith("silence.wav")]
    assert len(tone) == 1 + (rate - 512) // 256 and len(sil) == len(tone)
    np.testing.assert_allclose(tone["rms"], amp / np.sqrt(2), rtol=0.05)
    np.testing.assert_allclose(tone["zcr"], 2 * freq / rate, rtol=0.1)
    assert (sil["rms"] == 0).all() and (sil["peak"] == 0).all()
    # frame schedule: t_start_s advances by hop/rate
    np.testing.assert_allclose(np.diff(sorted(tone["t_start_s"])), 256 / rate)


def test_tiff_roundtrip_kernel():
    """decode_tiff(encode_tiff(img)) == img for uint8/16, int32 and
    float32 in both byte orders (baseline TIFF 6.0, pure numpy)."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(23)
    for dt in ("u1", "u2", "i4", "f4"):
        for bo in ("<", ">"):
            img = rng.uniform(0, 255, (6, 9)).astype(dt)
            back, tags = decode_tiff(encode_tiff(img, byte_order=bo))
            np.testing.assert_array_equal(back, img)
            assert tags[256][0] == 9 and tags[257][0] == 6


def test_decode_tiff_distributed(spark, tmp_path):
    import numpy as np

    from trx_spark.operators.multimodal import encode_tiff

    rng = np.random.default_rng(29)
    truth = {}
    for k in range(2):
        img = rng.poisson(200, (5, 7)).astype("u2")
        truth[f"det_{k}.tif"] = img
        (tmp_path / f"det_{k}.tif").write_bytes(encode_tiff(img))
    assets = read_binary_assets(spark, str(tmp_path / "*.tif"), "image")
    px = decode_image(assets, codec="tiff").toPandas()
    assert len(px) == 2 * 5 * 7
    for fname, img in truth.items():
        sub = px[px.file.str.endswith(fname)].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(5, 7), img.astype(float)
        )


def test_decode_auto_mixed_folder(spark, tmp_path):
    """codec='auto' sniffs EDF / CBF / TIFF per file in one mixed
    folder (fabio's auto-detection behavior) and decodes each exactly."""
    import numpy as np

    from trx_spark.operators.multimodal import encode_cbf, encode_edf, encode_tiff

    rng = np.random.default_rng(31)
    truth = {}
    imgs = [rng.poisson(100, (4, 6)).astype(t) for t in ("u2", "i4", "u2")]
    (tmp_path / "a.edf").write_bytes(encode_edf(imgs[0]))
    (tmp_path / "b.cbf").write_bytes(encode_cbf(imgs[1]))
    (tmp_path / "c.tif").write_bytes(encode_tiff(imgs[2]))
    truth = {"a.edf": imgs[0], "b.cbf": imgs[1], "c.tif": imgs[2]}
    assets = read_binary_assets(spark, str(tmp_path / "*"), "image")
    px = decode_image(assets, codec="auto").toPandas()
    assert len(px) == 3 * 4 * 6
    for fname, img in truth.items():
        sub = px[px.file.str.endswith(fname)].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(4, 6), img.astype(float)
        )


def test_wav_tiff_roundtrip_properties():
    """Hypothesis: WAV PCM16 round-trips any [-1,1] float signal to
    within quantization; TIFF round-trips any uint16 image exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from trx_spark.operators.multimodal import (
        decode_tiff,
        decode_wav,
        encode_tiff,
        encode_wav,
    )

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
            min_size=1,
            max_size=64,
        ),
        st.integers(min_value=1, max_value=2),
    )
    def wav_roundtrip(vals, nch):
        arr = np.array(vals * nch, dtype=np.float64).reshape(nch, -1).T
        back, rate = decode_wav(encode_wav(arr, rate=8000))
        assert rate == 8000 and back.shape == arr.shape
        np.testing.assert_allclose(back, np.clip(arr, -1, 32767 / 32768), atol=1.0 / 32768)

    @settings(max_examples=100, deadline=None)
    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def tiff_roundtrip(ny, nx, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 2**16, size=(ny, nx), dtype=np.uint16)
        for bo in ("<", ">"):
            back, _ = decode_tiff(encode_tiff(img, byte_order=bo))
            np.testing.assert_array_equal(back, img)

    wav_roundtrip()
    tiff_roundtrip()


def test_gzip_edf_roundtrip_kernel():
    """decode_any transparently gunzips (.edf.gz — the reference's
    default glob *.edf* with fabio decompression)."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import decode_any, encode_edf, sniff_codec

    rng = np.random.default_rng(3)
    img = rng.poisson(80, (6, 5)).astype("u2")
    blob = gzip.compress(encode_edf(img))
    assert sniff_codec(blob) == "gzip"
    back, hdr = decode_any(blob)
    np.testing.assert_array_equal(back, img)
    assert hdr["Dim_1"] == "5"


def test_multiframe_edf_roundtrip_kernel():
    """decode_edf_frames(encode_edf_stack(imgs)) == imgs frame by frame
    (multi-frame EDF: successive header+payload blocks)."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_edf_frames, encode_edf_stack

    rng = np.random.default_rng(5)
    imgs = [rng.poisson(100, (4, 6)).astype("u2") for _ in range(3)]
    blob = encode_edf_stack(imgs)
    frames = decode_edf_frames(blob)
    assert len(frames) == 3
    for k, (back, hdr) in enumerate(frames):
        np.testing.assert_array_equal(back, imgs[k])
        assert hdr["Image"] == str(k + 1)


def test_decode_image_mixed_gzip_multiframe(spark, tmp_path):
    """E1 over a mixed folder: a plain EDF, a gzipped EDF and a
    3-frame stack, all through codec='auto' — gunzip + sniff + frame
    fan-out happen executor-side."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import encode_edf, encode_edf_stack

    rng = np.random.default_rng(9)
    plain = rng.poisson(60, (5, 5)).astype("u2")
    zipped = rng.poisson(70, (5, 5)).astype("u2")
    stack = [np.full((5, 5), 10 * (k + 1), dtype="u2") for k in range(3)]
    (tmp_path / "a_plain.edf").write_bytes(encode_edf(plain))
    (tmp_path / "b_zip.edf.gz").write_bytes(gzip.compress(encode_edf(zipped)))
    (tmp_path / "c_stack.edf").write_bytes(encode_edf_stack(stack))
    assets = read_binary_assets(spark, str(tmp_path / "*.edf*"), "image")
    px = decode_image(assets, codec="auto").toPandas()
    # 1 + 1 + 3 frames of 25 pixels each
    assert len(px) == 5 * 25
    stacked = px[px.file.str.endswith("c_stack.edf")]
    assert sorted(stacked["frame"].unique()) == [0, 1, 2]
    per_frame = stacked.groupby("frame")["intensity"].mean()
    assert list(per_frame) == [10.0, 20.0, 30.0]
    z = px[px.file.str.endswith("b_zip.edf.gz")].sort_values(["y", "x"])
    np.testing.assert_array_equal(
        z["intensity"].to_numpy().reshape(5, 5), zipped.astype(float)
    )
    # frame-aware feature grain: one row per (file, frame)
    feats = image_features(decode_image(assets, codec="auto"))
    assert feats.count() == 5


def test_wav_missing_fmt_raises_valueerror(spark, tmp_path):
    """A truncated RIFF blob (no fmt chunk) fails the frame-features
    kernel with the explicit ValueError, not an opaque TypeError."""
    from trx_spark.operators.multimodal import audio_frame_features

    (tmp_path / "bad.wav").write_bytes(b"RIFF" + (4).to_bytes(4, "little") + b"WAVE")
    assets = read_binary_assets(spark, str(tmp_path / "*.wav"), "audio")
    with pytest.raises(Exception, match="missing fmt/data chunk"):
        audio_frame_features(assets).collect()


def test_cbf_none_roundtrip_kernel():
    """The uncompressed x-CBF_NONE conversion (plain-CIF variant)
    roundtrips for i4 and i8 element widths."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_cbf, encode_cbf

    rng = np.random.default_rng(13)
    for dt in ("i4", "i8"):
        img = rng.integers(-5000, 5000, (7, 5)).astype(dt)
        blob = encode_cbf(img, compression="none")
        back, hdr = decode_cbf(blob)
        np.testing.assert_array_equal(back, img)
        assert hdr["X-Binary-Size-Fastest-Dimension"] == "5"


def test_cbf_none_distributed(spark, tmp_path):
    import numpy as np

    from trx_spark.operators.multimodal import encode_cbf

    rng = np.random.default_rng(17)
    img = rng.poisson(50, (6, 6)).astype("i4")
    (tmp_path / "pilatus_plain.cbf").write_bytes(encode_cbf(img, compression="none"))
    assets = read_binary_assets(spark, str(tmp_path / "*.cbf"), "image")
    px = decode_image(assets, codec="auto").toPandas().sort_values(["y", "x"])
    np.testing.assert_array_equal(
        px["intensity"].to_numpy().reshape(6, 6), img.astype(float)
    )


def test_multiframe_gzip_edf_property():
    """Property: any stack (1-4 frames, arbitrary dims/dtype/byte
    order), optionally gzip-wrapped, round-trips frame-by-frame through
    decode_edf_frames / decode_any."""
    import gzip

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from trx_spark.operators.multimodal import (
        decode_any,
        decode_edf_frames,
        encode_edf_stack,
        maybe_gunzip,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        n_frames=st.integers(min_value=1, max_value=4),
        ny=st.integers(min_value=1, max_value=9),
        nx=st.integers(min_value=1, max_value=9),
        dt=st.sampled_from(["u2", "i4", "f4", "f8"]),
        order=st.sampled_from(["LowByteFirst", "HighByteFirst"]),
        zipped=st.booleans(),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def roundtrip(n_frames, ny, nx, dt, order, zipped, seed):
        rng = np.random.default_rng(seed)
        imgs = [
            rng.integers(0, 1000, (ny, nx)).astype(dt) for _ in range(n_frames)
        ]
        blob = encode_edf_stack(imgs, byte_order=order)
        if zipped:
            blob = gzip.compress(blob)
        frames = decode_edf_frames(maybe_gunzip(blob))
        assert len(frames) == n_frames
        for img, (back, hdr) in zip(imgs, frames):
            np.testing.assert_array_equal(back, img)
        first, _ = decode_any(blob)
        np.testing.assert_array_equal(first, imgs[0])

    roundtrip()


def test_cbf_cif_style_roundtrip_kernel():
    """The full CIF-wrapped framing (data_ block, CIF tags, no ###CBF
    sentinel — what CBFlib itself writes) roundtrips for both
    compressions and the signed/unsigned 16/32-bit element widths the
    plain-CIF variant uses in the wild; the Pilatus header-contents
    block is parsed into Pilatus_* fields."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_cbf, encode_cbf, sniff_codec

    rng = np.random.default_rng(23)
    hc = "# Detector: PILATUS 1M\n# Exposure_time 0.0995 s\n# Wavelength 0.9795 A"
    for dt, comp in (
        ("u2", "none"), ("i2", "none"), ("u4", "none"),
        ("i4", "byte_offset"), ("u2", "byte_offset"),
    ):
        lo = 0 if dt[0] == "u" else -5000
        img = rng.integers(lo, 5000, (9, 4)).astype(dt)
        blob = encode_cbf(img, compression=comp, style="cif", header_contents=hc)
        assert not blob.startswith(b"###CBF")
        assert blob.startswith(b"data_")
        assert sniff_codec(blob) == "cbf"
        back, hdr = decode_cbf(blob)
        np.testing.assert_array_equal(back, img)
        assert back.dtype == np.dtype(dt)
        assert hdr["Pilatus_Exposure_time"] == "0.0995 s"
        assert hdr["Pilatus_Detector"] == "PILATUS 1M"


def test_cbf_mini_header_contents_fields():
    """miniCBF framing carries the same detector comment block."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_cbf, encode_cbf

    img = np.arange(12, dtype="i4").reshape(3, 4)
    blob = encode_cbf(
        img, header_contents="# Threshold_setting 6000 eV\n# Tau = 1.991e-07 s"
    )
    assert blob.startswith(b"###CBF")
    back, hdr = decode_cbf(blob)
    np.testing.assert_array_equal(back, img)
    assert hdr["Pilatus_Threshold_setting"] == "6000 eV"
    # the '# Key = value' Pilatus form: '=' is neither key nor value
    assert hdr["Pilatus_Tau"] == "1.991e-07 s"
    # '###CBF' sentinel / writer comment lines must NOT leak into fields
    assert not any(k.startswith("Pilatus_CBF") for k in hdr)
    assert "Pilatus_pure-numpy" not in hdr


def test_cbf_cif_long_preamble_sniff_and_distributed(spark, tmp_path):
    """A CIF preamble larger than 4 KiB (big detector header) must
    still sniff as CBF — prefix-limited sniffing missed it — and the
    distributed auto decode must produce exact pixels."""
    import numpy as np

    from trx_spark.operators.multimodal import encode_cbf, sniff_codec

    rng = np.random.default_rng(29)
    img = rng.poisson(80, (8, 8)).astype("i4")
    hc = "\n".join(f"# Aux_field_{i:04d} value_{i}" for i in range(400))
    blob = encode_cbf(img, style="cif", header_contents=hc)
    assert blob.index(b"--CIF-BINARY-FORMAT-SECTION--") > 4096
    assert sniff_codec(blob) == "cbf"
    (tmp_path / "cifwrapped.cbf").write_bytes(blob)
    assets = read_binary_assets(spark, str(tmp_path / "*.cbf"), "image")
    px = decode_image(assets, codec="auto").toPandas().sort_values(["y", "x"])
    np.testing.assert_array_equal(
        px["intensity"].to_numpy().reshape(8, 8), img.astype(float)
    )


def test_mar345_roundtrip_kernel():
    """decode_mar345(encode_mar345(img)) == img across bit-size tiers
    (flat blocks → 0-bit, photon noise → 4-8 bit, sharp spikes → 16/32
    bit) plus the >65535 overflow table and both byte orders."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_mar345, encode_mar345

    rng = np.random.default_rng(23)
    img = rng.poisson(120, (16, 16)).astype("u2")
    img[3, 5] = 65535          # packed ceiling, no overflow record
    back, hdr = decode_mar345(encode_mar345(img))
    np.testing.assert_array_equal(back, img.astype(np.int64))
    assert hdr["size"] == 16 and hdr["nhigh"] == 0

    # overflow pixels (>65535) go through the (1-based addr, value)
    # table and come back exact
    big = img.astype("u4")
    big[0, 0] = 70_000
    big[15, 15] = 2_000_000_000  # int32 record ceiling is 2^31 - 1
    back2, hdr2 = decode_mar345(encode_mar345(big))
    np.testing.assert_array_equal(back2, big.astype(np.int64))
    assert hdr2["nhigh"] == 2
    with pytest.raises(ValueError, match="int32"):
        encode_mar345(np.full((4, 4), 1 << 31, dtype="u4"))

    # flat image → all-zero diffs → 0-bit blocks; spiky image → 32-bit
    flat = np.full((8, 8), 7, dtype="u2")
    np.testing.assert_array_equal(decode_mar345(encode_mar345(flat))[0], 7)
    spiky = np.zeros((8, 8), dtype="u2")
    spiky[::2, ::2] = 60_000
    np.testing.assert_array_equal(
        decode_mar345(encode_mar345(spiky))[0], spiky.astype(np.int64)
    )

    # big-endian container
    back3, hdr3 = decode_mar345(encode_mar345(img, byte_order=">"))
    np.testing.assert_array_equal(back3, img.astype(np.int64))
    assert hdr3["byte_order"] == ">"


def test_mar345_rejects_bad_inputs():
    import numpy as np
    import pytest

    from trx_spark.operators.multimodal import decode_mar345, encode_mar345

    with pytest.raises(ValueError, match="square"):
        encode_mar345(np.ones((4, 6), dtype="u2"))
    with pytest.raises(ValueError, match="non-negative"):
        encode_mar345(np.full((4, 4), -1, dtype="i4"))
    with pytest.raises(ValueError, match="sentinel"):
        decode_mar345(b"\x00" * 64)


def test_mar345_pck_property():
    """Property: the PCK bit stream round-trips ANY int32-safe
    difference vector (hypothesis drives all bit-size tiers and the
    padded final block)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from trx_spark.operators.multimodal import _pck_pack_diffs, _pck_unpack_diffs

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            min_size=1,
            max_size=70,
        )
    )
    def check(vals):
        d = np.asarray(vals, dtype=np.int64)
        back = _pck_unpack_diffs(_pck_pack_diffs(d), len(d))
        np.testing.assert_array_equal(back, d)

    check()


def test_decode_mar345_distributed(spark, tmp_path):
    """The REAL mar345 codec path through binaryFile → mapInPandas,
    auto-sniffed (1234 sentinel) alongside gzip wrapping."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import encode_mar345, sniff_codec

    rng = np.random.default_rng(29)
    truth = {}
    for k in range(3):
        img = rng.poisson(150, (8, 8)).astype("u4")
        img[k, k] = 100_000 + k  # overflow record in every file
        truth[f"plate_{k}.mar345"] = img
        blob = encode_mar345(img)
        assert sniff_codec(blob) == "mar345"
        if k == 2:  # transparent .gz wrapping like the EDF path
            (tmp_path / f"plate_{k}.mar345.gz").write_bytes(gzip.compress(blob))
        else:
            (tmp_path / f"plate_{k}.mar345").write_bytes(blob)
    assets = read_binary_assets(spark, str(tmp_path / "plate_*"), "image")
    px = decode_image(assets, codec="auto").toPandas()
    assert len(px) == 3 * 8 * 8
    for fname, img in truth.items():
        sub = px[px.file.str.contains(fname.split(".")[0] + ".")].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(8, 8), img.astype(float)
        )


def test_marccd_roundtrip_kernel():
    """decode_marccd(encode_marccd(img)) == img, both byte orders,
    MarCCD layout invariants (TIFF strip at 4096, frame header at
    1024), sniff discriminates MarCCD from plain TIFF (reference reads
    .mccd through fabio, trx/azav.py:29-34)."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_any,
        decode_marccd,
        decode_tiff,
        encode_marccd,
        encode_tiff,
        sniff_codec,
    )

    rng = np.random.default_rng(31)
    img = rng.integers(0, 60000, (7, 5)).astype("u2")
    blob = encode_marccd(img)
    assert sniff_codec(blob) == "marccd"
    # a plain TIFF of the same pixels still sniffs as tiff
    assert sniff_codec(encode_tiff(img)) == "tiff"
    back, hdr = decode_marccd(blob)
    np.testing.assert_array_equal(back, img)
    assert hdr["header_name"] == "MarCCD"
    assert (hdr["nfast"], hdr["nslow"]) == (5, 7)
    assert hdr["depth"] == 2 and hdr["header_size"] == 3072
    # pixels live in the TIFF container at the canonical 4096 offset —
    # a generic TIFF reader decodes the same values (fabio mccd is a
    # tifimage subclass for exactly this reason)
    timg, tags = decode_tiff(blob)
    np.testing.assert_array_equal(timg, img)
    assert tags[273][0] == 4096
    # big-endian container
    back_be, hdr_be = decode_marccd(encode_marccd(img, byte_order=">"))
    np.testing.assert_array_equal(back_be, img)
    assert hdr_be["header_byte_order"] == 1234  # self-describing word
    # decode_any dispatch
    via_any, _ = decode_any(blob)
    np.testing.assert_array_equal(via_any, img)


def test_marccd_dim_disagreement_raises():
    """A frame header whose nfast/nslow contradict the TIFF IFD is
    surfaced, not silently trusted (the IFD is the spec-certain
    source)."""
    import numpy as np
    import pytest as _pt

    from trx_spark.operators.multimodal import decode_marccd, encode_marccd

    blob = bytearray(encode_marccd(np.ones((4, 4), dtype="u2")))
    blob[1024 + 80 : 1024 + 84] = (99).to_bytes(4, "little")  # corrupt nfast
    with _pt.raises(ValueError, match="disagree"):
        decode_marccd(bytes(blob))


def test_bruker_roundtrip_kernel():
    """decode_bruker(encode_bruker(img)) == img across NPIXELB widths
    through BOTH overflow layouts: the VERSION>=11 3-field NOVERFL
    with binary 2-byte/4-byte tables (fabio brukerimage semantics)
    and the legacy format-86 single-count ASCII table (reference reads
    .sfrm through fabio, trx/azav.py:29-34)."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_any,
        decode_bruker,
        encode_bruker,
        sniff_codec,
    )

    rng = np.random.default_rng(37)
    img = rng.integers(0, 250, (6, 9)).astype("u4")
    img[2, 3] = 70_000  # above the 2-byte ceiling → 4-byte table entry
    img[5, 8] = 1_000_000
    for version in (9, 11):
        for npixelb in (1, 2, 4):
            blob = encode_bruker(img, npixelb=npixelb, version=version)
            assert sniff_codec(blob) == "bruker"
            back, hdr = decode_bruker(blob)
            np.testing.assert_array_equal(back, img.astype(np.int64))
            assert (hdr["nrows"], hdr["ncols"]) == (6, 9)
            assert hdr["npixelb"] == npixelb
            assert hdr["version"] == version
            if version >= 11:
                assert hdr["noverfl"] == {
                    1: [-1, 2, 2], 2: [-1, 0, 2], 4: [-1, 0, 0]
                }[npixelb]
            else:
                assert hdr["noverfl"] == [0 if npixelb == 4 else 2]
    # v11: a pixel exactly AT the ceiling is saturated and carries a
    # table entry whose value equals the ceiling — it must roundtrip
    flat = np.full((3, 3), 255, dtype="u2")
    back, hdr = decode_bruker(encode_bruker(flat, npixelb=1))
    assert hdr["noverfl"] == [-1, 9, 0]
    np.testing.assert_array_equal(back, 255)
    # legacy: at-ceiling stays literal, no ASCII record consumed
    back, hdr = decode_bruker(encode_bruker(flat, npixelb=1, version=9))
    assert hdr["noverfl"] == [0]
    np.testing.assert_array_equal(back, 255)
    via_any, _ = decode_any(encode_bruker(img))
    np.testing.assert_array_equal(via_any, img.astype(np.int64))


def test_bruker_v11_overflow_layout():
    """The v11 blob's NOVERFL record and table bytes follow the public
    layout: '-1 n2 n4', binary tables 16-byte padded; a decoder that
    misread the first field as a single count (range(-1) is empty)
    would return saturated ceilings instead of true values.  Also: an
    underflow table (NOVERFL[0] >= 0) is skipped by exactly its padded
    size, and a v11 header with a single-field NOVERFL raises instead
    of silently misreading."""
    import numpy as np
    import pytest

    from trx_spark.operators.multimodal import decode_bruker, encode_bruker

    img = np.zeros((4, 4), dtype="u4")
    img[1, 2] = 300          # 2-byte table entry
    img[3, 0] = 100_000      # 2-byte entry (65535) + 4-byte entry
    blob = encode_bruker(img, npixelb=1)
    head = blob[: 3 * 512].decode("ascii", "replace")
    nov_line = next(
        line for line in
        (head[i : i + 80] for i in range(0, len(head), 80))
        if line.startswith("NOVERFL")
    )
    assert nov_line[8:].split() == ["-1", "2", "1"]
    # the 2-byte table holds (300, 65535) and the 4-byte table (100000)
    tab = blob[3 * 512 + 16 :]
    np.testing.assert_array_equal(
        np.frombuffer(tab, "<u2", count=2), [300, 65535]
    )
    assert len(tab) % 16 == 0 and len(tab) == 32  # both tables padded
    np.testing.assert_array_equal(
        np.frombuffer(tab, "<u4", count=1, offset=16), [100_000]
    )
    back, _ = decode_bruker(blob)
    np.testing.assert_array_equal(back, img.astype(np.int64))

    # splice an 8-record underflow table in front of the 2-byte table
    # and bump NOVERFL[0]: the decoder must skip its padded 16 bytes
    patched = bytearray(blob)
    off = blob.index(b"NOVERFL")
    patched[off : off + 80] = f"{'NOVERFL':<7s}:{' 8 2 1':<72s}".encode()
    patched[3 * 512 + 16 : 3 * 512 + 16] = b"\x07" * 8 + b"\x00" * 8
    back, hdr = decode_bruker(bytes(patched))
    np.testing.assert_array_equal(back, img.astype(np.int64))
    assert hdr["noverfl"] == [8, 2, 1]

    # v11 + single-field NOVERFL = the misread ADVICE flagged — raise
    bad = bytearray(blob)
    bad[off : off + 80] = f"{'NOVERFL':<7s}:{'3':<72s}".encode()
    with pytest.raises(ValueError, match="3-field NOVERFL"):
        decode_bruker(bytes(bad))


def test_decode_marccd_bruker_distributed(spark, tmp_path):
    """REAL MarCCD + Bruker decode through binaryFile → mapInPandas in
    one auto-sniffed folder (mixed-format beamline dir), gzip wrapping
    included — distributed values ≡ local kernel values."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import encode_bruker, encode_marccd

    rng = np.random.default_rng(41)
    truth = {}
    img_m = rng.integers(0, 60000, (8, 8)).astype("u2")
    truth["frame_0"] = img_m.astype(float)
    (tmp_path / "frame_0.mccd").write_bytes(encode_marccd(img_m))
    img_b = rng.integers(0, 250, (8, 8)).astype("u4")
    img_b[3, 3] = 80_000
    truth["frame_1"] = img_b.astype(float)
    (tmp_path / "frame_1.sfrm").write_bytes(encode_bruker(img_b, npixelb=2))
    img_g = rng.integers(0, 1000, (8, 8)).astype("u2")
    truth["frame_2"] = img_g.astype(float)
    (tmp_path / "frame_2.mccd.gz").write_bytes(
        gzip.compress(encode_marccd(img_g, byte_order=">"))
    )
    assets = read_binary_assets(spark, str(tmp_path / "frame_*"), "image")
    px = decode_image(assets, codec="auto").toPandas()
    assert len(px) == 3 * 8 * 8
    for stem, img in truth.items():
        sub = px[px.file.str.contains(stem + ".")].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(8, 8), img
        )


def test_mar345_pck_prediction_convention():
    """Pin the PCK neighbor-prediction convention against a by-hand
    derivation of the published pack_c formula (CCP4 / mar345 format
    description): diff[0] = img[0]; diffs 1..size-1 use the left pixel;
    from flat index size onward the prediction is the truncated mean
    (W + NE + N + NW + 2) >> 2 over FLAT indices (row boundaries wrap
    into the neighboring row), with the single out-of-range NW at
    i == size falling back to the left pixel. The expected differences
    below are computed inline from that formula — independently of the
    encoder's vectorized _pck_predictions_make — so a convention
    regression in either direction fails this test."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        _pck_predictions_apply,
        _pck_predictions_make,
    )

    rng = np.random.default_rng(43)
    img = rng.integers(0, 5000, (5, 5)).astype(np.int64)
    flat = img.ravel()
    size = 5
    exp = np.empty(size * size, dtype=np.int64)
    exp[0] = flat[0]
    for i in range(1, size):
        exp[i] = flat[i] - flat[i - 1]
    for i in range(size, size * size):
        west = flat[i - 1]          # flat index — wraps across rows
        north = flat[i - size]
        ne = flat[i - size + 1]
        nw = flat[i - size - 1] if i > size else flat[i - 1]
        exp[i] = flat[i] - ((west + ne + north + nw + 2) >> 2)
    got = _pck_predictions_make(img)
    np.testing.assert_array_equal(got, exp)
    # and the decoder inverts exactly that convention
    np.testing.assert_array_equal(_pck_predictions_apply(exp, size), img)


def test_adsc_roundtrip_kernel():
    """decode_adsc(encode_adsc(img)) == img across types and byte
    orders; sniff discriminates ADSC SMV (brace + HEADER_BYTES) from
    EDF (brace, no HEADER_BYTES) — reference reads .img through fabio,
    trx/azav.py:29-34."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_adsc,
        decode_any,
        encode_adsc,
        encode_edf,
        sniff_codec,
    )

    rng = np.random.default_rng(47)
    img = rng.integers(0, 60000, (6, 4)).astype("u2")
    blob = encode_adsc(img)
    assert sniff_codec(blob) == "adsc"
    assert sniff_codec(encode_edf(img)) == "edf"  # same '{' opener
    back, hdr = decode_adsc(blob)
    np.testing.assert_array_equal(back, img)
    assert (int(hdr["SIZE1"]), int(hdr["SIZE2"])) == (4, 6)
    # big-endian + unsigned_long type
    big = rng.integers(0, 1 << 20, (3, 5)).astype("u4")
    back_be, hdr_be = decode_adsc(encode_adsc(big, byte_order=">"))
    np.testing.assert_array_equal(back_be, big)
    assert hdr_be["BYTE_ORDER"] == "big_endian"
    assert hdr_be["TYPE"] == "unsigned_long"
    via_any, _ = decode_any(blob)
    np.testing.assert_array_equal(via_any, img)


def test_decode_adsc_distributed(spark, tmp_path):
    """REAL ADSC decode through binaryFile → mapInPandas, auto-sniffed
    in a folder that also holds an EDF (the two brace formats must not
    shadow each other), gzip wrapping included."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import encode_adsc, encode_edf

    rng = np.random.default_rng(53)
    truth = {}
    img_a = rng.integers(0, 60000, (8, 8)).astype("u2")
    truth["shot_0"] = img_a.astype(float)
    (tmp_path / "shot_0.img").write_bytes(encode_adsc(img_a))
    img_e = rng.integers(0, 60000, (8, 8)).astype("u2")
    truth["shot_1"] = img_e.astype(float)
    (tmp_path / "shot_1.edf").write_bytes(encode_edf(img_e))
    img_g = rng.integers(0, 60000, (8, 8)).astype("u2")
    truth["shot_2"] = img_g.astype(float)
    (tmp_path / "shot_2.img.gz").write_bytes(
        gzip.compress(encode_adsc(img_g, byte_order=">"))
    )
    assets = read_binary_assets(spark, str(tmp_path / "shot_*"), "image")
    px = decode_image(assets, codec="auto").toPandas()
    assert len(px) == 3 * 8 * 8
    for stem, img in truth.items():
        sub = px[px.file.str.contains(stem + ".")].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(8, 8), img
        )


def test_new_codec_roundtrip_properties():
    """Hypothesis: MarCCD, Bruker SFRM and ADSC SMV round-trip any
    small unsigned image exactly, across byte orders / pixel widths —
    including Bruker overflow-table traffic for values above the
    per-pixel ceiling."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from trx_spark.operators.multimodal import (
        decode_adsc,
        decode_bruker,
        decode_marccd,
        encode_adsc,
        encode_bruker,
        encode_marccd,
        sniff_codec,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=0, max_value=10_000_000),
        st.randoms(use_true_random=False),
        st.sampled_from(["<", ">"]),
        st.sampled_from([1, 2, 4]),
    )
    def roundtrip(ny, nx, spike, rnd, order, npixelb):
        rng = np.random.default_rng(rnd.randrange(1 << 30))
        img = rng.integers(0, 60000, (ny, nx)).astype("u4")
        img[rng.integers(0, ny), rng.integers(0, nx)] = spike
        # Bruker: any uint value (overflow table absorbs > ceiling)
        back, _ = decode_bruker(encode_bruker(img, npixelb=npixelb))
        np.testing.assert_array_equal(back, img.astype(np.int64))
        assert sniff_codec(encode_bruker(img)) == "bruker"
        # MarCCD/ADSC carry raw fixed-width pixels — clamp into range
        img16 = (img % 65536).astype("u2")
        back_m, _ = decode_marccd(encode_marccd(img16, byte_order=order))
        np.testing.assert_array_equal(back_m, img16)
        back_a, _ = decode_adsc(encode_adsc(img16, byte_order=order))
        np.testing.assert_array_equal(back_a, img16)

    roundtrip()


def test_png_roundtrip_kernel():
    """decode_png(encode_png(img)) == img across color types, bit
    depths, palette expansion, and ALL FIVE scanline filters (the
    encoder's vectorized forward filters and the decoder's sequential
    unfilters are independent implementations of the W3C predictors,
    so a roundtrip pins both)."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_any,
        decode_png,
        encode_png,
        png_luma,
        sniff_codec,
    )

    rng = np.random.default_rng(59)
    gray = rng.integers(0, 256, (13, 17))
    for f in (0, 1, 2, 3, 4, "cycle"):
        back, hdr = decode_png(encode_png(gray, filters=f))
        np.testing.assert_array_equal(back, gray)
        assert (hdr["height"], hdr["width"]) == (13, 17)
    gray16 = rng.integers(0, 65536, (9, 5))
    back, hdr = decode_png(encode_png(gray16, filters="cycle"))
    np.testing.assert_array_equal(back, gray16)
    assert hdr["bit_depth"] == 16
    for ch, ctype in ((2, 4), (3, 2), (4, 6)):
        img = rng.integers(0, 256, (11, 7, ch))
        blob = encode_png(img, filters="cycle")
        assert sniff_codec(blob) == "png"
        back, hdr = decode_png(blob)
        np.testing.assert_array_equal(back, img)
        assert hdr["color_type"] == ctype
        assert png_luma(back).shape == (11, 7)
    rgb16 = rng.integers(0, 65536, (6, 8, 3))
    back, _ = decode_png(encode_png(rgb16, filters=4))
    np.testing.assert_array_equal(back, rgb16)
    # palette: indices through PLTE expand back to the exact colors
    pimg = rng.integers(0, 4, (10, 10, 3)) * 50
    blob = encode_png(pimg, palette=True, filters="cycle")
    back, hdr = decode_png(blob)
    np.testing.assert_array_equal(back, pimg)
    assert hdr["color_type"] == 3
    via_any, _ = decode_any(blob)
    np.testing.assert_array_equal(via_any, pimg)


def test_png_adam7_roundtrip():
    """Adam7 interlace roundtrips bit-exactly across shapes (including
    dims smaller than one 8x8 pass cell, where several passes are
    empty), depths, channel counts, palette, and every filter id."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for shape in [(1, 1), (2, 3), (7, 5), (8, 8), (13, 17), (16, 16, 3),
                  (9, 11, 4), (5, 2, 2)]:
        for depth in (8, 16):
            img = rng.integers(0, 1 << depth, shape)
            for filt in (0, 4, "cycle"):
                back, hdr = decode_png(
                    encode_png(img, bit_depth=depth, filters=filt,
                               interlace=True)
                )
                assert hdr["interlace"] == 1
                np.testing.assert_array_equal(back, img)
    pal = rng.integers(0, 5, (10, 13)) * 40
    rgb = np.stack([pal, 255 - pal, pal // 2], axis=-1)
    back, hdr = decode_png(
        encode_png(rgb, palette=True, interlace=True, filters="cycle")
    )
    np.testing.assert_array_equal(back, rgb)
    # sequential output is unchanged by the refactor
    img = rng.integers(0, 256, (12, 7))
    back, hdr = decode_png(encode_png(img, filters="cycle"))
    assert hdr["interlace"] == 0
    np.testing.assert_array_equal(back, img)


def test_png_rejects_bad_inputs():
    import numpy as np
    import pytest as _pt

    from trx_spark.operators.multimodal import decode_png, encode_png

    img = np.arange(64).reshape(8, 8) % 256
    blob = encode_png(img)
    with _pt.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX" + blob[4:])
    # flip one IDAT payload byte → CRC mismatch must raise, not decode
    idat = blob.index(b"IDAT")
    corrupted = bytearray(blob)
    corrupted[idat + 6] ^= 0xFF
    with _pt.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(corrupted))
    # an unknown interlace METHOD (2) → explicit unsupported error;
    # a falsely-stamped Adam7 flag on sequential scanlines fails loudly
    # too — the 7-pass layout misreads a pixel byte as a filter id or
    # ends with a byte-count mismatch
    import zlib

    ihdr = blob.index(b"IHDR")
    for flag, msg in ((2, "interlace"), (1, "filter type|size mismatch")):
        stamped = bytearray(blob)
        stamped[ihdr + 4 + 12] = flag
        body = bytes(stamped[ihdr : ihdr + 4 + 13])
        stamped[ihdr + 4 + 13 : ihdr + 4 + 17] = zlib.crc32(body).to_bytes(
            4, "big"
        )
        with _pt.raises(ValueError, match=msg):
            decode_png(bytes(stamped))
    with _pt.raises(ValueError, match="bit depth"):
        encode_png(np.full((2, 2), 70000), bit_depth=8)


def test_png_real_world_golden():
    """Decode a PNG written by an INDEPENDENT encoder (idle_16.png,
    shipped with CPython — PSF-licensed, vendored as a fixture): a
    16x16 palette PNG. The pinned sums were computed at vendoring
    time; any unfilter/PLTE regression shifts them."""
    import os

    from trx_spark.operators.multimodal import decode_png, png_luma

    path = os.path.join(os.path.dirname(__file__), "data", "idle_16.png")
    img, hdr = decode_png(open(path, "rb").read())
    assert (hdr["width"], hdr["height"], hdr["color_type"]) == (16, 16, 3)
    assert img.shape == (16, 16, 3)
    assert int(img.sum()) == 137046
    lum = png_luma(img)
    assert int(lum.sum()) == 46386
    assert (int(lum[0, 0]), int(lum[8, 8])) == (183, 237)


def test_decode_png_distributed(spark, tmp_path):
    """REAL PNG decode through binaryFile → mapInPandas (auto-sniffed
    mixed folder with an EDF neighbor and a gzip-wrapped PNG):
    distributed luma ≡ local png_luma(decode_png(...)) exactly."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_png,
        encode_edf,
        encode_png,
        png_luma,
    )

    rng = np.random.default_rng(61)
    truth = {}
    rgb = rng.integers(0, 256, (8, 8, 3))
    truth["asset_0"] = png_luma(rgb).astype(float)
    (tmp_path / "asset_0.png").write_bytes(encode_png(rgb, filters="cycle"))
    g16 = rng.integers(0, 65536, (8, 8))
    truth["asset_1"] = g16.astype(float)
    (tmp_path / "asset_1.png.gz").write_bytes(
        gzip.compress(encode_png(g16, filters=4))
    )
    edf = rng.integers(0, 1000, (8, 8)).astype("u2")
    truth["asset_2"] = edf.astype(float)
    (tmp_path / "asset_2.edf").write_bytes(encode_edf(edf))
    assets = read_binary_assets(spark, str(tmp_path / "asset_*"), "image")
    px = decode_image(assets, codec="auto").toPandas()
    assert len(px) == 3 * 8 * 8
    for stem, img in truth.items():
        sub = px[px.file.str.contains(stem + ".")].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(8, 8), img
        )


def test_decode_png_distributed_adam7(spark):
    """decode_image(codec='png') decodes Adam7-interlaced blobs in the
    distributed pixel pipeline (through decode_png, like the census
    path): sequential and interlaced encodings of the same pixels give
    identical distributed luma sums."""
    import numpy as np
    from pyspark.sql import functions as F

    from trx_spark.operators.multimodal import (
        decode_image,
        encode_png,
        png_luma,
    )

    rng = np.random.default_rng(31)
    rows, expect = [], {}
    for k in range(4):
        base = rng.integers(0, 256, (11, 13, 3))
        blob = encode_png(base, filters="cycle", interlace=(k % 2 == 0))
        rows.append((f"f{k}.png", bytearray(blob)))
        expect[f"f{k}.png"] = int(png_luma(base).sum())
    assets = spark.createDataFrame(rows, "path string, content binary")
    got = {
        r["file"]: r["s"]
        for r in decode_image(assets, codec="png")
        .groupBy("file")
        .agg(F.sum(F.col("intensity").cast("long")).alias("s"))
        .collect()
    }
    assert got == expect


def test_png_dhash_neardup_e2e(spark, tmp_path):
    """The web-corpus pipeline end-to-end: PNG blobs → binaryFile →
    real decode → dHash → near-dup groups. A brightness-rescaled
    re-encode of the same photo groups with the original; a different
    image stays alone."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_image,
        encode_png,
        image_neardup_groups,
        read_binary_assets,
    )

    yy, xx = np.mgrid[0:32, 0:32]
    base = (
        4 * xx + 2 * yy
        + 120 * np.exp(-((xx - 20) ** 2 + (yy - 9) ** 2) / 18.0)
    ).astype(np.int64)
    scaled = base // 2  # gain-halved duplicate (dhash is gain-invariant)
    other = (4 * xx[::-1] + 7 * yy).astype(np.int64)
    blobs = {
        "web_a.png": encode_png(base, filters="cycle"),
        "web_b_dup.png": encode_png(scaled, filters=2),
        "web_c.png": encode_png(other, filters=1),
    }
    for name, blob in blobs.items():
        (tmp_path / name).write_bytes(blob)
    assets = read_binary_assets(spark, str(tmp_path / "*.png"), "image")
    pixels = decode_image(assets, shape=(32, 32), codec="png")
    groups = image_neardup_groups(pixels, src_shape=(32, 32)).collect()
    sizes = sorted(r["n_images"] for r in groups)
    assert sizes == [1, 2]
    dup_group = next(r for r in groups if r["n_images"] == 2)
    assert dup_group["keeper_file"].endswith("web_a.png")


def test_jpeg_constant_tiles_exact():
    """Constant 8x8 blocks are EXACT fixed points of the baseline JPEG
    pipeline with all-ones quantization (AC identically zero, DC the
    integer 8·(v−128)) — the lossless corner the gate query hashes."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_any,
        decode_jpeg,
        encode_jpeg,
        sniff_codec,
    )

    rng = np.random.default_rng(3)
    tiles = rng.integers(0, 256, (3, 4))
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    blob = encode_jpeg(img)
    assert sniff_codec(blob) == "jpeg"
    back, hdr = decode_jpeg(blob)
    np.testing.assert_array_equal(back, img)
    assert (hdr["height"], hdr["width"], hdr["n_components"]) == (24, 32, 1)
    via_any, _ = decode_any(blob)
    np.testing.assert_array_equal(via_any, img)


def test_jpeg_roundtrip_tolerance():
    """Smooth grayscale and random RGB roundtrip within the tight
    bound the all-ones quantization implies (coefficient rounding
    only); non-multiple-of-8 shapes exercise the edge padding."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:21, 0:37]
    smooth = (100 + 40 * np.sin(xx / 7.0) + 30 * np.cos(yy / 5.0)).astype(
        np.int64
    )
    back, hdr = decode_jpeg(encode_jpeg(smooth))
    assert back.shape == smooth.shape
    assert int(np.abs(back - smooth).max()) <= 2
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, (17, 19, 3))
    back, hdr = decode_jpeg(encode_jpeg(rgb))
    assert hdr["n_components"] == 3 and back.shape == rgb.shape
    assert int(np.abs(back - rgb).max()) <= 4  # + color-space rounding
    # a coarser quant table degrades gracefully, stays in range
    q = np.full(64, 16)
    back, _ = decode_jpeg(encode_jpeg(smooth, quant=q))
    assert int(np.abs(back - smooth).max()) <= 24


def test_jpeg_nonuniform_quant_roundtrip():
    """NON-uniform quantization tables roundtrip within the bound the
    table implies (~max_entry/2 per coefficient plus rounding).  Pins
    the encoder's zigzag→natural conversion: the DQT bytes are zigzag
    order, so the natural-order divisor is the INVERSE scatter
    qnat[ZZ[k]] = qt[k] — applying the permutation the wrong way round
    (qt[ZZ]) is invisible under the uniform tables the other tests use
    but put ~164 levels of error on this fixture before the r9 fix."""
    import numpy as np

    from trx_spark.operators.multimodal import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:16, 0:16]
    smooth = (100 + 40 * np.sin(xx / 7.0) + 30 * np.cos(yy / 5.0)).astype(
        np.int64
    )
    q = np.array([1] * 32 + [3] * 32)  # zigzag order: fine low, coarse high
    back, _ = decode_jpeg(encode_jpeg(smooth, quant=q))
    assert int(np.abs(back - smooth).max()) <= 6
    # a frequency-ramped table (Annex-K-shaped) also stays bounded
    qk = np.minimum(1 + np.arange(64) // 4, 255)
    back, _ = decode_jpeg(encode_jpeg(smooth, quant=qk))
    assert int(np.abs(back - smooth).max()) <= 16
    # constant tiles stay EXACT whenever the DC entry is 1, no matter
    # how coarse the AC entries are (AC coefficients are identically 0)
    tiles = np.repeat(np.repeat(np.arange(6).reshape(2, 3) * 40, 8, 0), 8, 1)
    back, _ = decode_jpeg(encode_jpeg(tiles, quant=np.array([1] + [200] * 63)))
    np.testing.assert_array_equal(back, tiles)
    # RGB with distinct luma/chroma tables exercises both qnat entries
    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, (16, 16, 3))
    back, _ = decode_jpeg(encode_jpeg(rgb, quant=q, quant_chroma=qk))
    assert int(np.abs(back - rgb).max()) <= 40  # random image, coarse AC


def test_jpeg_real_world_golden():
    """Decode a JPEG written by an INDEPENDENT encoder (the CPython
    test suite's 16x16 Python-logo thumbnail — PSF-licensed, vendored):
    baseline 4:2:0 with standard Annex K tables. The pinned sums were
    computed at vendoring time; the logo's blue/yellow snake clusters
    double-check the color path."""
    import os

    import numpy as np

    from trx_spark.operators.multimodal import decode_jpeg, png_luma

    path = os.path.join(os.path.dirname(__file__), "data", "python_16.jpg")
    img, hdr = decode_jpeg(open(path, "rb").read())
    assert (hdr["width"], hdr["height"], hdr["n_components"]) == (16, 16, 3)
    assert hdr["sampling"] == [(2, 2), (1, 1), (1, 1)]  # 4:2:0
    assert int(img.sum()) == 70796
    lum = png_luma(img)
    assert int(lum.sum()) == 24966
    assert (int(lum[0, 0]), int(lum[8, 8])) == (1, 221)
    flat = img.reshape(-1, 3)
    bluish = ((flat[:, 2] > flat[:, 0] + 30) & (flat[:, 2] > 100)).sum()
    yellowish = (
        (flat[:, 0] > 180) & (flat[:, 1] > 150) & (flat[:, 2] < 120)
    ).sum()
    assert bluish > 40 and yellowish > 40


def test_jpeg_unsupported_sof_raises():
    import numpy as np
    import pytest as _pt

    from trx_spark.operators.multimodal import decode_jpeg, encode_jpeg

    blob = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.int64)))
    sof = blob.index(b"\xff\xc0")
    blob[sof + 1] = 0xC3  # lossless sequential: genuinely unsupported
    with _pt.raises(ValueError, match="SOF"):
        decode_jpeg(bytes(blob))
    with _pt.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x00\x01\x02")


def test_jpeg_progressive_matches_baseline():
    """The progressive decoder (SOF2: spectral selection + successive
    approximation over a persistent coefficient store) reconstructs
    EXACTLY the baseline decode of the same coefficients — the two
    entropy orderings carry identical data. Constant tiles stay exact
    end-to-end (the gate's lossless corner), and both encoder modes
    (spectral-only; DC/AC successive approximation with refinement
    scans) roundtrip gray and RGB, uniform and ramped quant tables."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_any,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        sniff_codec,
    )

    rng = np.random.default_rng(3)
    tiles = rng.integers(0, 256, (3, 4))
    img = np.repeat(np.repeat(tiles, 8, 0), 8, 1)
    for succ in (False, True):
        blob = encode_jpeg_progressive(img, successive=succ)
        assert sniff_codec(blob) == "jpeg"
        back, hdr = decode_jpeg(blob)
        assert hdr["progressive"] is True
        np.testing.assert_array_equal(back, img)
        via_any, _ = decode_any(blob)
        np.testing.assert_array_equal(via_any, img)

    yy, xx = np.mgrid[0:21, 0:37]
    smooth = (100 + 40 * np.sin(xx / 7.0) + 30 * np.cos(yy / 5.0)).astype(
        np.int64
    )
    rgb = rng.integers(0, 256, (17, 19, 3))
    q = np.array([1] * 32 + [3] * 32)
    qk = np.minimum(1 + np.arange(64) // 4, 255)
    for im, kw in [
        (smooth, {}),
        (rgb, {}),
        (smooth, dict(quant=q)),
        (rgb, dict(quant=q, quant_chroma=qk)),
        (rng.integers(0, 256, (24, 16, 3)), dict(quant=qk)),
    ]:
        base, _ = decode_jpeg(encode_jpeg(im, **kw))
        for succ in (False, True):
            prog, hdr = decode_jpeg(
                encode_jpeg_progressive(im, successive=succ, **kw)
            )
            np.testing.assert_array_equal(prog, base)
    # coarse quantization → sparse bands → EOB-runs and long
    # zero-history runs (ZRL) in the refinement scans
    coarse = np.full(64, 64)
    coarse[0] = 1
    sparse = rng.integers(120, 136, (32, 32))
    base, _ = decode_jpeg(encode_jpeg(sparse, quant=coarse))
    for succ in (False, True):
        prog, _ = decode_jpeg(
            encode_jpeg_progressive(sparse, quant=coarse, successive=succ)
        )
        np.testing.assert_array_equal(prog, base)


def test_image_census_mixed_formats_and_quarantine(spark):
    """image_census yields one verdict row per file across DETECTOR
    formats (EDF, gzipped CBF), web formats (Adam7 PNG, progressive
    JPEG), and broken inputs (truncated EDF, gzip-wrapped junk) — the
    quarantine contract: complete results, no thrown task."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import (
        encode_cbf,
        encode_edf,
        encode_jpeg_progressive,
        encode_png,
        image_census,
    )
    from trx_spark.sources.imageds import ensure_executor_package

    ensure_executor_package(spark)
    rng = np.random.default_rng(21)
    edf = encode_edf(rng.integers(0, 1000, (6, 5)).astype(np.uint16))
    cbf = gzip.compress(
        encode_cbf(rng.integers(0, 900, (4, 7)).astype(np.int64)), mtime=0
    )
    png = encode_png(rng.integers(0, 256, (9, 4, 3)), interlace=True)
    jpg = encode_jpeg_progressive(
        rng.integers(0, 256, (8, 16)), successive=True
    )
    rows = [
        ("a.edf", bytearray(edf)),
        ("b.cbf.gz", bytearray(cbf)),
        ("c.png", bytearray(png)),
        ("d.jpg", bytearray(jpg)),
        ("e.edf", bytearray(edf[: len(edf) // 2])),  # truncated
        ("f.bin", bytearray(gzip.compress(b"junk", mtime=0))),
    ]
    assets = spark.createDataFrame(rows, "path string, content binary")
    got = {r["file"]: r for r in image_census(assets).collect()}
    assert len(got) == 6
    assert {got[k]["verdict"] for k in ("a.edf", "b.cbf.gz", "c.png", "d.jpg")} == {"ok"}
    assert (got["a.edf"]["width"], got["a.edf"]["height"]) == (5, 6)
    assert got["c.png"]["n_px"] == 9 * 4
    assert got["e.edf"]["verdict"] == "corrupt"
    assert got["e.edf"]["fmt"] == "edf"  # sniffed before the failure
    assert got["f.bin"]["verdict"] == "corrupt"
    assert got["f.bin"]["fmt"] == "unknown"


def test_jpeg_progressive_restart_resync():
    """DRI restart markers inside progressive scans: the decoder must
    resync (bit-align, jump to the recorded marker position, reset DC
    predictors and EOB-run state) in every scan kind — DC first/refine
    and AC first/refine — and still reconstruct exactly the baseline
    decode of the same data, for gray and RGB at several intervals."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(13)
    for shape in [(16, 16), (24, 32), (17, 19, 3)]:
        img = rng.integers(0, 256, shape)
        base, _ = decode_jpeg(encode_jpeg(img))
        for succ in (False, True):
            for dri in (1, 3, 5):
                prog, hdr = decode_jpeg(
                    encode_jpeg_progressive(
                        img, successive=succ, restart_interval=dri
                    )
                )
                assert hdr["restart_interval"] == dri
                np.testing.assert_array_equal(prog, base)


def test_decode_jpeg_distributed_progressive(spark):
    """decode_image(codec='auto') decodes progressive JPEGs in the
    distributed pixel pipeline too (decode_jpeg's SOF2 path on the
    worker), so baseline and progressive blobs of the same image give
    identical luma sums."""
    import numpy as np
    from pyspark.sql import functions as F

    from trx_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        png_luma,
    )

    rng = np.random.default_rng(41)
    rows, expect = [], {}
    for k in range(4):
        img = rng.integers(0, 256, (16, 16, 3))
        if k % 2 == 0:
            blob = encode_jpeg_progressive(
                img, successive=(k == 2), restart_interval=2
            )
        else:
            blob = encode_jpeg(img)
        rows.append((f"j{k}.jpg", bytearray(blob)))
        expect[f"j{k}.jpg"] = int(png_luma(decode_jpeg(blob)[0]).sum())
    assets = spark.createDataFrame(rows, "path string, content binary")
    got = {
        r["file"]: r["s"]
        for r in decode_image(assets, codec="auto")
        .groupBy("file")
        .agg(F.sum(F.col("intensity").cast("long")).alias("s"))
        .collect()
    }
    assert got == expect


def test_decode_image_ships_package_for_jpeg(spark, monkeypatch):
    """decode_image ships the executor package for every codec (its
    kernel imports the module codecs on the worker) — local-mode
    workers resolve `import trx_spark` from the cwd, so the distributed
    decode tests alone cannot catch a dropped shipping call."""
    import numpy as np

    from trx_spark.operators import multimodal
    from trx_spark.sources import imageds

    calls = []
    monkeypatch.setattr(
        imageds, "ensure_executor_package", lambda s: calls.append(s)
    )
    assets = spark.createDataFrame(
        [("a.jpg", bytearray(multimodal.encode_jpeg(np.zeros((8, 8)))))],
        "path string, content binary",
    )
    for expected, codec in enumerate(("jpeg", "auto", "png", "edf", "fake"), 1):
        multimodal.decode_image(assets, codec=codec)
        assert len(calls) == expected, codec
    # restart_interval validation: clear errors, not OverflowError
    import pytest as _pt

    for bad in (-1, 70000, 0.5, True, False, "4", None):
        with _pt.raises(ValueError, match="restart_interval"):
            multimodal.encode_jpeg_progressive(
                np.zeros((8, 8)), restart_interval=bad
            )
    # numpy integer scalars are accepted like plain ints
    hdr = multimodal.decode_jpeg(
        multimodal.encode_jpeg_progressive(
            np.zeros((8, 8)), restart_interval=np.int64(1)
        )
    )[1]
    assert hdr["restart_interval"] == 1


def test_jpeg_progressive_truncation_raises():
    import numpy as np
    import pytest as _pt

    from trx_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (16, 16))
    blob = encode_jpeg_progressive(img, successive=True)
    # EVERY cut position from just-past-SOI to just-before-EOI must
    # either raise ValueError (never IndexError from the bit reader or
    # a truncated SOS header — the documented decode contract) or
    # return a valid partial render (a cut at a scan boundary is a
    # legitimate progressive stream missing its later scans)
    raised = 0
    for cut in range(4, len(blob) - 1):
        try:
            px, hdr = decode_jpeg(blob[:cut])
        except ValueError:
            raised += 1
        else:
            assert px.shape == (16, 16) and hdr["progressive"]
    assert raised > 0
    with _pt.raises(ValueError):
        decode_jpeg(blob[: len(blob) * 2 // 3])
    # the baseline (SOF0) scan loop honors the same contract
    from trx_spark.operators.multimodal import encode_jpeg

    base = encode_jpeg(img)
    for cut in range(4, len(base) - 1):
        try:
            px, hdr = decode_jpeg(base[:cut])
        except ValueError:
            pass
        else:
            assert px.shape == (16, 16) and not hdr["progressive"]


def test_all_codec_truncation_contract():
    """EVERY decoder honors the wild-input contract at EVERY cut
    position: ValueError (or a successfully-parsed partial result) —
    never KeyError/IndexError/TypeError/struct.error leaking from the
    parse layer. The JPEG family is pinned separately
    (test_jpeg_progressive_truncation_raises); this sweeps the
    detector + web + audio formats."""
    import numpy as np

    from trx_spark.operators import multimodal as M

    rng = np.random.default_rng(5)
    img16 = rng.integers(0, 1000, (6, 5)).astype(np.uint16)
    sq = rng.integers(0, 1000, (8, 8)).astype(np.int64)
    frames = [np.full((8, 8), v, dtype=np.int64) for v in (10, 200)]
    cases = {
        "edf": (M.encode_edf(img16), M.decode_edf),
        "cbf": (M.encode_cbf(sq), M.decode_cbf),
        "tiff": (
            M.encode_tiff(rng.integers(0, 255, (5, 4)).astype(np.uint8)),
            M.decode_tiff,
        ),
        "mar345": (M.encode_mar345(sq), M.decode_mar345),
        "marccd": (M.encode_marccd(img16), M.decode_marccd),
        "bruker": (M.encode_bruker(sq), M.decode_bruker),
        "adsc": (M.encode_adsc(img16), M.decode_adsc),
        "png": (M.encode_png(rng.integers(0, 256, (6, 5))), M.decode_png),
        "png_adam7": (
            M.encode_png(rng.integers(0, 256, (9, 4, 3)), interlace=True),
            M.decode_png,
        ),
        "avi": (M.encode_avi_mjpeg(frames), M.decode_avi_frames),
        "wav": (
            M.encode_wav(rng.integers(-1000, 1000, 64).astype(np.int16)),
            M.decode_wav,
        ),
        "wav_g711": (
            M.encode_wav_g711(rng.integers(-1000, 1000, 64).astype(np.int16)),
            M.decode_wav,
        ),
    }
    for name, (blob, dec) in cases.items():
        for cut in range(0, len(blob)):
            try:
                dec(bytes(blob[:cut]))
            except ValueError:
                pass  # the documented contract
        # the untruncated blob still decodes (guards didn't over-reach)
        dec(bytes(blob))


def test_decode_jpeg_distributed(spark, tmp_path):
    """REAL JPEG decode through binaryFile → mapInPandas (auto-sniffed
    folder mixing JPEG, gzip-wrapped JPEG and a real 4:2:0 file):
    distributed luma ≡ local decode exactly."""
    import gzip
    import os
    import shutil

    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        png_luma,
    )

    rng = np.random.default_rng(23)
    truth = {}
    tiles = rng.integers(0, 256, (1, 2))
    g = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    truth["web_0"] = g.astype(float)
    (tmp_path / "web_0.jpg").write_bytes(encode_jpeg(g))
    rgbt = np.repeat(np.repeat(rng.integers(0, 256, (1, 2, 3)), 8, 0), 8, 1)
    blob = encode_jpeg(rgbt)
    truth["web_1"] = png_luma(decode_jpeg(blob)[0]).astype(float)
    (tmp_path / "web_1.jpg.gz").write_bytes(gzip.compress(blob))
    real = os.path.join(os.path.dirname(__file__), "data", "python_16.jpg")
    shutil.copy(real, tmp_path / "web_2.jpg")
    truth["web_2"] = png_luma(
        decode_jpeg(open(real, "rb").read())[0]
    ).astype(float)
    assets = read_binary_assets(spark, str(tmp_path / "web_*"), "image")
    px = decode_image(assets, codec="auto").toPandas()
    assert len(px) == 2 * 8 * 16 + 16 * 16
    for stem, img in truth.items():
        sub = px[px.file.str.contains(stem + ".")].sort_values(["y", "x"])
        np.testing.assert_array_equal(
            sub["intensity"].to_numpy().reshape(img.shape), img
        )


def test_avi_mjpeg_container_roundtrip():
    """encode_avi_mjpeg(frames) walks back out of decode_avi_frames as
    the identical JPEG blobs, and constant-tile frames decode EXACTLY
    (the JPEG fixed-point property lifted to video)."""
    import numpy as np
    import pytest as _pt

    from trx_spark.operators.multimodal import (
        decode_avi_frames,
        decode_jpeg,
        encode_avi_mjpeg,
    )

    rng = np.random.default_rng(9)
    tiles = [
        np.repeat(np.repeat(rng.integers(0, 256, (2, 2)), 8, 0), 8, 1)
        for _ in range(5)
    ]
    blob = encode_avi_mjpeg(tiles, fps=5)
    frames, hdr = decode_avi_frames(blob)
    assert (hdr["n_frames"], hdr["width"], hdr["height"]) == (5, 16, 16)
    assert hdr["compression"] == "MJPG"
    assert len(frames) == 5
    for f, t in zip(frames, tiles):
        back, _ = decode_jpeg(f)
        np.testing.assert_array_equal(back, t)
    with _pt.raises(ValueError, match="not an AVI"):
        decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    # a non-MJPG fourcc in strf is refused, not misdecoded
    bad = bytearray(blob)
    i = blob.index(b"MJPG", blob.index(b"strf"))
    bad[i : i + 4] = b"H264"
    with _pt.raises(ValueError, match="unsupported AVI compression"):
        decode_avi_frames(bytes(bad))


def test_decode_video_distributed_sampling(spark, tmp_path):
    """REAL distributed video decode: MJPEG AVI blobs → container-level
    frame sampling (every_n / max_frames BEFORE entropy decode) → JPEG
    path → pixel rows keyed by the ORIGINAL frame index; gzip wrapping
    included. Values ≡ the local decode of the same sampled frames."""
    import gzip

    import numpy as np

    from trx_spark.operators.multimodal import (
        decode_video,
        encode_avi_mjpeg,
        read_binary_assets,
    )

    rng = np.random.default_rng(31)
    clips = {}
    for k in range(2):
        frames = [
            np.repeat(np.repeat(rng.integers(0, 256, (1, 2)), 8, 0), 8, 1)
            for _ in range(7)
        ]
        clips[f"clip_{k}"] = frames
        blob = encode_avi_mjpeg(frames)
        if k == 1:
            blob = gzip.compress(blob)
        ext = "avi.gz" if k == 1 else "avi"
        (tmp_path / f"clip_{k}.{ext}").write_bytes(blob)
    assets = read_binary_assets(spark, str(tmp_path / "clip_*"), "video")
    px = decode_video(assets, every_n=3, max_frames=2).toPandas()
    # frames 0 and 3 of each clip, 8x16 px each
    assert len(px) == 2 * 2 * 8 * 16
    assert set(px["frame"]) == {0, 3}
    for k, frames in clips.items():
        for fi in (0, 3):
            sub = px[
                px.file.str.contains(k + ".") & (px.frame == fi)
            ].sort_values(["y", "x"])
            np.testing.assert_array_equal(
                sub["intensity"].to_numpy().reshape(8, 16),
                frames[fi].astype(float),
            )


def test_wav_g711_companded_roundtrip():
    """G.711 µ-law / A-law decode (ITU-T G.711 reconstruction tables):
    known anchor codes, nearest-level quantization through
    encode_wav_g711, and monotone decode within each sign half."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        _g711_alaw_table,
        _g711_ulaw_table,
        decode_wav,
        encode_wav_g711,
    )

    ut, at = _g711_ulaw_table(), _g711_alaw_table()
    # spec anchors: µ-law 0xFF decodes to 0; A-law 0xD5 (0x80^0x55) to +8
    assert ut[0xFF] == 0 and ut[0x7F] == 0
    assert int(np.abs(ut).max()) == 8031 * 4  # 32124, the µ-law max level
    assert at[0xD5] == 8 and at[0x55] == -8
    assert int(np.abs(at).max()) == 504 << 6  # 32256, the A-law max level
    # codes 0x80..0xFF are the positive µ-law half, descending level
    assert all(np.diff(ut[0x80:0x100]) < 0) and all(ut[0x80:0x100] >= 0)

    rng = np.random.default_rng(17)
    x = np.clip(rng.normal(0, 0.2, 400), -1, 1)
    for law in ("ulaw", "alaw"):
        blob = encode_wav_g711(x, rate=8000, law=law)
        back, rate = decode_wav(blob)
        assert rate == 8000 and back.shape == (400, 1)
        got = back[:, 0] * 32768.0
        lin = np.clip(np.round(x * 32768.0), -32768, 32767)
        tab = np.sort((ut if law == "ulaw" else at))
        # each decoded value is the nearest reconstruction level
        for g, l in zip(got, lin):
            i = np.searchsorted(tab, l)
            cands = tab[max(0, i - 1) : i + 1]
            assert abs(g - l) == np.abs(cands - l).min()


def test_wav_g711_distributed(spark, tmp_path):
    """Companded WAV through the distributed audio feature path: the
    worker's decode_wav gives the same frame RMS as a driver-side
    decode_wav of the same file."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        audio_frame_features,
        decode_wav,
        encode_wav_g711,
        read_binary_assets,
    )

    rng = np.random.default_rng(19)
    x = np.clip(np.sin(np.arange(2048) / 20.0) * 0.5 + rng.normal(0, 0.05, 2048), -1, 1)
    for law in ("ulaw", "alaw"):
        (tmp_path / f"clip_{law}.wav").write_bytes(
            encode_wav_g711(x, rate=8000, law=law)
        )
    assets = read_binary_assets(spark, str(tmp_path / "clip_*.wav"), "audio")
    feats = audio_frame_features(assets, frame=512, hop=512, codec="wav").toPandas()
    assert len(feats) == 2 * 4
    for law in ("ulaw", "alaw"):
        mono = decode_wav(
            (tmp_path / f"clip_{law}.wav").read_bytes()
        )[0][:, 0]
        sub = feats[feats.file.str.contains(law)].sort_values("frame_idx")
        want = [
            float(np.sqrt(np.mean(mono[i : i + 512] ** 2)))
            for i in range(0, 2048, 512)
        ]
        np.testing.assert_allclose(sub["rms"].to_numpy(), want, rtol=1e-12)


def test_tiff_packbits_roundtrip_and_distributed(spark, tmp_path):
    """PackBits TIFF (compression 32773): codec-level roundtrip on
    run-heavy and literal-heavy images, plus the distributed decode
    path; a compressed strip must be smaller on the run-heavy image."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(29)
    # byte-level property: arbitrary buffers roundtrip
    for _ in range(20):
        raw = bytes(rng.integers(0, 4, rng.integers(0, 300)).astype("u1"))
        assert _packbits_decode(_packbits_encode(raw)) == raw
    flat = np.zeros((16, 16), dtype="u2")
    flat[4:8, :] = 7000
    blob = encode_tiff(flat, compression=32773)
    assert len(blob) < len(encode_tiff(flat, compression=1))
    back, tags = decode_tiff(blob)
    np.testing.assert_array_equal(back, flat)
    assert tags[259][0] == 32773
    noisy = rng.integers(0, 60000, (9, 13)).astype("u2")
    for order in ("<", ">"):
        back, _ = decode_tiff(
            encode_tiff(noisy, byte_order=order, compression=32773)
        )
        np.testing.assert_array_equal(back, noisy)
    # distributed: decode_image(codec='tiff') decompresses identically
    (tmp_path / "pb_0.tif").write_bytes(encode_tiff(noisy, compression=32773))
    assets = read_binary_assets(spark, str(tmp_path / "pb_*.tif"), "image")
    px = decode_image(assets, codec="tiff").toPandas().sort_values(["y", "x"])
    np.testing.assert_array_equal(
        px["intensity"].to_numpy().reshape(9, 13), noisy.astype(float)
    )


def test_tiff_lzw_roundtrip_and_distributed(spark, tmp_path):
    """TIFF LZW (compression 5, TIFF 6.0 §13) with the early-change
    width rule: a HAND-PACKED 9-bit spec vector pins the decoder
    independently of the encoder; roundtrips cross the 9→10→11 bit
    boundaries and the KwKwK self-reference; predictor 2 (horizontal
    differencing) roundtrips and actually compresses a smooth ramp;
    decode_image(codec='tiff') decodes it identically."""
    import numpy as np

    from trx_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_tiff,
        encode_tiff,
    )

    # [Clear=256, 'A'=65, 'B'=66, EOI=257] at 9 bits, MSB-first
    bits = "100000000" + "001000001" + "001000010" + "100000001"
    bits += "0" * (-len(bits) % 8)
    blob = int(bits, 2).to_bytes(len(bits) // 8, "big")
    assert _lzw_decode(blob) == b"AB"

    rng = np.random.default_rng(7)
    for n in (10, 2000, 60000):  # 60000 crosses into 12-bit codes
        for hi in (8, 256):
            raw = bytes(rng.integers(0, hi, n).astype("u1"))
            assert _lzw_decode(_lzw_encode(raw)) == raw
    kwk = b"ABABABABABABAB" * 50  # exercises code == len(table)
    assert _lzw_decode(_lzw_encode(kwk)) == kwk

    img = rng.integers(0, 60000, (40, 50)).astype("u2")
    for pred in (1, 2):
        for order in ("<", ">"):
            back, tags = decode_tiff(
                encode_tiff(img, byte_order=order, compression=5, predictor=pred)
            )
            np.testing.assert_array_equal(back, img)
            assert tags[259][0] == 5 and tags[317][0] == pred
    yy, xx = np.mgrid[0:64, 0:64]
    smooth = (1000 + 30 * xx + 17 * yy).astype("u2")
    l2 = len(encode_tiff(smooth, compression=5, predictor=2))
    assert l2 < len(encode_tiff(smooth, compression=5))
    assert l2 < smooth.nbytes  # differencing makes the ramp compressible

    (tmp_path / "lzw_0.tif").write_bytes(
        encode_tiff(img, compression=5, predictor=2)
    )
    assets = read_binary_assets(spark, str(tmp_path / "lzw_*.tif"), "image")
    px = decode_image(assets, codec="tiff").toPandas().sort_values(["y", "x"])
    np.testing.assert_array_equal(
        px["intensity"].to_numpy().reshape(40, 50), img.astype(float)
    )


def _marccd_header_dims_disagree() -> bytes:
    from trx_spark.operators.multimodal import encode_marccd

    blob = bytearray(encode_marccd(np.arange(12, dtype="u2").reshape(3, 4)))
    blob[1024 + 80 : 1024 + 84] = (5).to_bytes(4, "little")  # nfast 5, IFD width 4
    return bytes(blob)


def _tiff_zeroed_magic() -> bytes:
    from trx_spark.operators.multimodal import encode_tiff

    blob = bytearray(encode_tiff(np.arange(12, dtype="u2").reshape(3, 4)))
    blob[2:4] = b"\x00\x00"  # the magic word 42
    return bytes(blob)


@pytest.mark.parametrize(
    "make, codec, msg",
    [
        (_marccd_header_dims_disagree, "marccd", "MarCCD frame header dims disagree"),
        (_tiff_zeroed_magic, "tiff", "not a TIFF stream"),
    ],
    ids=["marccd_header_dims", "tiff_zeroed_magic"],
)
def test_malformed_blob_raises_on_every_decode_path(spark, tmp_path, make, codec, msg):
    """One decoder per format: a blob the module codec rejects is
    rejected the same way by decode_any, by decode_image's distributed
    kernel (auto and the explicit codec) and by the detector_image
    reader."""
    from trx_spark.operators.multimodal import decode_any
    from trx_spark.sources.imageds import DetectorImageReader, _FilePartition

    blob = make()
    with pytest.raises(ValueError, match=msg):
        decode_any(blob)
    assets = spark.createDataFrame(
        [("bad.img", bytearray(blob))], "path string, content binary"
    )
    for c in ("auto", codec):
        with pytest.raises(Exception, match=f"ValueError: {msg}"):
            decode_image(assets, codec=c).collect()
    path = tmp_path / "bad.img"
    path.write_bytes(blob)
    reader = DetectorImageReader({"path": str(path)})
    with pytest.raises(ValueError, match=msg):
        list(reader.read(_FilePartition(str(path))))


class _KernelCapture:
    """DataFrame stand-in for a kernel builder: records every function
    handed to mapInPandas and runs nothing."""

    def __init__(self, spark, kernels):
        self.sparkSession = spark
        self.kernels = kernels

    def select(self, *cols):
        return self

    def withColumnRenamed(self, *names):
        return self

    def mapInPandas(self, fn, schema):
        self.kernels.append(fn)
        return self


@pytest.mark.parametrize(
    "build",
    [
        lambda df: decode_image(df, codec="auto"),
        lambda df: decode_video(df, every_n=2),
        audio_frame_features,
    ],
    ids=["decode_image", "decode_video", "audio_frame_features"],
)
def test_decode_kernel_closure_stays_small(spark, build):
    """The codecs ride to the workers in the shipped package, not in
    the pickled kernel: every function a decode builder hands to
    mapInPandas pickles to under 4 KB (the nested codec copies these
    kernels once carried pickled to 7-49 KB)."""
    from pyspark import cloudpickle

    kernels = []
    build(_KernelCapture(spark, kernels))
    assert kernels
    for fn in kernels:
        assert len(cloudpickle.dumps(fn)) < 4096, fn.__qualname__
