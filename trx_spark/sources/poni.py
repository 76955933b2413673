"""pyFAI poni-file geometry (SURVEY U8; trx/azav.py:173-228 ``getAI``).

The reference hands a ``.poni`` filename to ``pyFAI.load`` and lets the
AzimuthalIntegrator lazily materialize per-pixel q/chi/solid-angle
arrays.  The poni FORMAT itself is public plain ASCII (``key: value``
lines, ``#`` comments; pyFAI PONI v1 carries ``PixelSize1/2`` keys, v2
moves pixel size into the ``Detector_config`` JSON) and the detector
geometry is textbook: a flat detector at distance ``dist`` along the
beam, the point-of-normal-incidence at (poni1, poni2) meters, tilted by
rot1/rot2/rot3.

Spark-first split of work, same as the SPEC reader: the KB-scale poni
text is parsed driver-side; the ny·nx per-pixel geometry TABLE is
generated distributed (``spark.range`` → closed-form column math, no
UDFs) and broadcast into the E1 integration join
(:func:`trx_spark.pipeline.integrate_folder`).

Geometry math (pyFAI geometry convention, rotations applied to the
pixel position (p1 − poni1, p2 − poni2, dist)):

    t1 = p1·c2·c3 + p2·(c3·s1·s2 − c1·s3) − L·(c1·c3·s2 + s1·s3)
    t2 = p1·c2·s3 + p2·(c1·c3 + s1·s2·s3) − L·(c1·s2·s3 − c3·s1)
    t3 = −p1·s2 + p2·c2·s1 + L·c1·c2
    2θ  = arctan2(√(t1² + t2²), t3)
    χ   = arctan2(t1, t2)

with ci/si = cos/sin(rotᵢ); at rot1 = rot2 = rot3 = 0 this reduces to
the classic 2θ = arctan(r/L) — the golden test pins that closed form.
"""

from __future__ import annotations

import json
import math
import os
import pathlib
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_HC_KEV_M = 12.398e-10  # keV·m, the reference's E→wavelength constant
                        # (trx/azav.py:217 '12.398e-10/kwargs["E"]')


@dataclass(frozen=True)
class PoniGeometry:
    """The eight pyFAI geometry scalars (+ detector name)."""

    dist: float                  # sample-detector distance along beam [m]
    poni1: float = 0.0           # point of normal incidence, slow axis [m]
    poni2: float = 0.0           # point of normal incidence, fast axis [m]
    rot1: float = 0.0            # detector tilts [rad]
    rot2: float = 0.0
    rot3: float = 0.0
    pixel1: float = 1e-4         # pixel size, slow axis [m]
    pixel2: float = 1e-4         # pixel size, fast axis [m]
    wavelength: float | None = None  # [m]
    detector: str | None = None


_KEY_MAP = {
    "distance": "dist",
    "dist": "dist",
    "poni1": "poni1",
    "poni2": "poni2",
    "rot1": "rot1",
    "rot2": "rot2",
    "rot3": "rot3",
    "pixelsize1": "pixel1",
    "pixelsize2": "pixel2",
    "wavelength": "wavelength",
}


def parse_poni(text: str) -> PoniGeometry:
    """Parse poni-file TEXT (v1 ``PixelSize1/2`` keys or v2
    ``Detector_config`` JSON; keys case-insensitive, ``#`` comments
    skipped — the public pyFAI ponifile convention)."""
    vals: dict[str, float] = {}
    detector = None
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "detector":
            detector = val
        elif key == "detector_config":
            try:
                cfg = json.loads(val)
            except json.JSONDecodeError:
                continue
            for k in ("pixel1", "pixel2"):
                if isinstance(cfg.get(k), (int, float)):
                    vals[k] = float(cfg[k])
        elif key in _KEY_MAP:
            try:
                vals[_KEY_MAP[key]] = float(val)
            except ValueError:
                pass
    if "dist" not in vals:
        raise ValueError("poni text has no Distance/Dist key")
    return PoniGeometry(detector=detector, **vals)


def find_poni(name: str, folder: str | None = None) -> str:
    """``getAI``'s search-path resolution (trx/azav.py:190-212): an
    existing path wins; otherwise look for the basename under
    ``folder`` and ALL its parents, then ``.`` and ``~``."""
    if os.path.isfile(name):
        return name
    folders: list[str] = []
    if folder is not None:
        path = pathlib.Path(os.path.abspath(folder))
        folders.append(str(path))
        folders.extend(str(p) for p in path.parents)
    folders.append(os.curdir)
    folders.append(os.path.expanduser("~"))
    for d in folders:
        cand = os.path.join(d, name)
        if os.path.isfile(cand):
            return cand
    raise FileNotFoundError(
        f"poni file {name!r} not found (searched {len(folders)} dirs "
        f"from folder={folder!r}, cwd, home)"
    )


def load_poni(name: str, folder: str | None = None, **overrides) -> PoniGeometry:
    """Resolve + parse + apply ``getAI``-style keyword overrides."""
    with open(find_poni(name, folder)) as f:
        geom = parse_poni(f.read())
    return apply_overrides(geom, **overrides)


def apply_overrides(geom: PoniGeometry | None = None, **kwargs) -> PoniGeometry:
    """``getAI``'s kwargs semantics (trx/azav.py:213-226): direct
    parameter overrides, plus the conveniences ``E`` (keV →
    wavelength), ``pixel`` (both axes) and ``xcen``/``ycen`` (pixel
    units → poni2/poni1 meters, applied AFTER pixel overrides)."""
    geom = geom or PoniGeometry(dist=kwargs.get("dist", 0.1))
    if "E" in kwargs:
        kwargs["wavelength"] = _HC_KEV_M / kwargs.pop("E")
    if "pixel" in kwargs:
        px = kwargs.pop("pixel")
        p1, p2 = (px if isinstance(px, tuple) else (px, px))
        kwargs["pixel1"], kwargs["pixel2"] = float(p1), float(p2)
    xcen = kwargs.pop("xcen", None)
    ycen = kwargs.pop("ycen", None)
    direct = {k: v for k, v in kwargs.items() if k in PoniGeometry.__dataclass_fields__}
    geom = replace(geom, **direct)
    if xcen is not None:
        geom = replace(geom, poni2=xcen * geom.pixel2)
    if ycen is not None:
        geom = replace(geom, poni1=ycen * geom.pixel1)
    return geom


def poni_geometry_table(
    spark: SparkSession,
    geom: PoniGeometry,
    shape: tuple[int, int],
    *,
    polarization_factor: float | None = None,
) -> DataFrame:
    """The per-pixel geometry DIMENSION table (y, x, q, chi,
    solid_angle, pol_corr) for an (ny, nx) detector — what pyFAI's
    integrator caches internally, materialized once and broadcast into
    the E1 pixel join.

    Generated distributed: ``spark.range(ny·nx)`` fanned across the
    default parallelism, all columns closed-form JVM math (module
    docstring formulae). q in Å⁻¹, chi in degrees (pyFAI integrate2d's
    azimuthal unit), solid_angle = pixel area · cos³(2θ)/dist²,
    pol_corr per pyFAI's polarization() (1.0 when no factor given).
    """
    if geom.wavelength is None:
        raise ValueError("geometry has no wavelength (set it or pass E=)")
    ny, nx = shape
    c1, s1 = math.cos(geom.rot1), math.sin(geom.rot1)
    c2, s2 = math.cos(geom.rot2), math.sin(geom.rot2)
    c3, s3 = math.cos(geom.rot3), math.sin(geom.rot3)
    base = (
        spark.range(ny * nx)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            (F.col("id") / nx).cast("long").alias("y"),
            (F.col("id") % nx).cast("long").alias("x"),
        )
    )
    p1 = (F.col("y").cast("double") + F.lit(0.5)) * F.lit(geom.pixel1) - F.lit(geom.poni1)
    p2 = (F.col("x").cast("double") + F.lit(0.5)) * F.lit(geom.pixel2) - F.lit(geom.poni2)
    L = F.lit(geom.dist)
    t1 = p1 * F.lit(c2 * c3) + p2 * F.lit(c3 * s1 * s2 - c1 * s3) - L * F.lit(c1 * c3 * s2 + s1 * s3)
    t2 = p1 * F.lit(c2 * s3) + p2 * F.lit(c1 * c3 + s1 * s2 * s3) - L * F.lit(c1 * s2 * s3 - c3 * s1)
    t3 = -p1 * F.lit(s2) + p2 * F.lit(c2 * s1) + L * F.lit(c1 * c2)
    df = base.select(
        "y",
        "x",
        F.atan2(F.sqrt(t1 * t1 + t2 * t2), t3).alias("_tth"),
        F.atan2(t1, t2).alias("_chi_rad"),
    )
    q = (
        F.lit(4.0 * math.pi / (geom.wavelength * 1e10))
        * F.sin(F.col("_tth") / F.lit(2.0))
    )
    solid = (
        F.lit(geom.pixel1 * geom.pixel2 / (geom.dist * geom.dist))
        * F.pow(F.cos("_tth"), F.lit(3.0))
    )
    if polarization_factor is None:
        pol = F.lit(1.0)
    else:
        # pyFAI polarization(): 1 - p·cos(2χ)·sin²(2θ) averaged form:
        # P = 0.5·(1 + cos²(2θ) - p·cos(2χ)·sin²(2θ))
        pol = F.lit(0.5) * (
            F.lit(1.0)
            + F.pow(F.cos("_tth"), F.lit(2.0))
            - F.lit(polarization_factor)
            * F.cos(F.lit(2.0) * F.col("_chi_rad"))
            * F.pow(F.sin("_tth"), F.lit(2.0))
        )
    return df.select(
        "y",
        "x",
        q.alias("q"),
        (F.col("_chi_rad") * F.lit(180.0 / math.pi)).alias("chi"),
        solid.alias("solid_angle"),
        pol.alias("pol_corr"),
    )
