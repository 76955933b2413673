"""Seeded input generator for the benchmark.

Writes what the library reads from disk and nothing else: EDF detector
frames, an id9-style log and the online waves. Every frame is one shared
non-flat pattern (a ring plus a fixed Poisson texture) times a per-delay
scale, so the reduced signal has a closed form that the benchmark checks:
``diff_plus_ref / (diff_plus_ref - mean_diff) == scale(delay)`` in every
q bin. The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np

DIST, PIXEL, ENERGY_KEV = 0.05, 200e-6, 12.0
OFF = -10.0  # the id9 log spells laser-off shots as 'off' -> -10.0
DELAY_LABELS = {1e-10: "100ps", 3e-10: "300ps", 1e-9: "1ns", 3e-9: "3ns"}


def pattern(rng: np.random.Generator, ny: int, nx: int) -> np.ndarray:
    """Ring around a seeded centre plus a fixed Poisson texture; strictly
    positive so every q bin has a non-zero reference."""
    cy = ny / 2 + rng.uniform(-0.05, 0.05) * ny
    cx = nx / 2 + rng.uniform(-0.05, 0.05) * nx
    yy, xx = np.mgrid[0:ny, 0:nx]
    r = np.hypot(yy - cy, xx - cx) / max(ny, nx)
    ring = 400.0 * np.exp(-((r - 0.3) ** 2) / 0.002)
    texture = rng.poisson(50.0, size=(ny, nx))
    return (100.0 + ring + texture).astype("f8")


def delay_scales(rng: np.random.Generator) -> dict[float, float]:
    """Per-delay multiplicative scale; off shots keep the bare pattern."""
    return {d: round(float(rng.uniform(1.05, 2.0)), 3) for d in DELAY_LABELS}


def encode_edf(img: np.ndarray) -> bytes:
    """Minimal little-endian float64 EDF blob (512-byte padded header)."""
    payload = img.astype("<f8").tobytes()
    fields = {
        "HeaderID": "EH:000001:000000:000000",
        "Image": "1",
        "ByteOrder": "LowByteFirst",
        "DataType": "DoubleValue",
        "Dim_1": str(img.shape[1]),
        "Dim_2": str(img.shape[0]),
        "Size": str(len(payload)),
    }
    body = "{\n" + "".join(f"{k} = {v} ;\n" for k, v in fields.items())
    pad = (-(len(body) + 2)) % 512
    return (body + " " * pad + "}\n").encode("ascii") + payload


def shot_delays(n_frames: int) -> list[float]:
    """Acquisition order: off, d1, off, d2, ... cycling the four delays,
    and always ending on an off shot so every on shot has off neighbours."""
    delays = list(DELAY_LABELS)
    out = []
    k = 0
    while len(out) < n_frames - 1:
        out += [OFF, delays[k % len(delays)]]
        k += 1
    out = out[: n_frames - 1] + [OFF]
    return out


def write_frames(folder: str, first: int, delays: list[float], base: np.ndarray,
                 scales: dict[float, float]) -> list[str]:
    """Write one EDF per shot; returns the basenames in acquisition order."""
    os.makedirs(folder, exist_ok=True)
    names = []
    for k, d in enumerate(delays):
        name = f"img_{first + k:05d}.edf"
        img = base if d == OFF else base * scales[d]
        tmp = os.path.join(folder, "." + name + ".part")
        with open(tmp, "wb") as fh:
            fh.write(encode_edf(img))
        os.replace(tmp, os.path.join(folder, name))
        names.append(name)
    return names


LOG_HEADER = (
    "# id9 benchmark acquisition\n"
    "# pd1 dark/sec : 2.0\n"
    "# pd2 dark/sec : 1.0\n"
    "# file delay time currentmA pd1ic pd2ic timeic\n"
)


def append_log(path: str, names: list[str], delays: list[float], first: int,
               rng: np.random.Generator) -> None:
    """id9-style log: '#' preamble with diode darks whose last comment line
    carries the column names, then one row per shot with the delay spelled
    as the beamline writes it. Appends, as the beamline does."""
    rows = []
    for k, (n, d) in enumerate(zip(names, delays), start=first):
        label = "off" if d == OFF else DELAY_LABELS[d]
        rows.append(
            f"{n} {label} {10 + k // 3600:02d}:{(k // 60) % 60:02d}:{k % 60:02d} "
            f"{rng.uniform(180.0, 200.0):.3f} {rng.uniform(90, 110):.3f} "
            f"{rng.uniform(45, 55):.3f} 1.0\n"
        )
    fresh = not os.path.exists(path)
    with open(path, "a") as fh:
        fh.write((LOG_HEADER if fresh else "") + "".join(rows))


class Acquisition:
    """One seeded detector run: shared pattern, per-delay scales, geometry."""

    def __init__(self, seed: int, ny: int, nx: int):
        self.rng = np.random.default_rng(seed)
        self.ny, self.nx = ny, nx
        self.base = pattern(self.rng, ny, nx)
        self.scales = delay_scales(self.rng)
        self.poni = dict(dist=DIST, pixel=PIXEL, xcen=nx / 2, ycen=ny / 2, E=ENERGY_KEV)
        # q of the detector corner: every pixel falls inside (0, q_max]
        r = np.hypot(ny / 2, nx / 2) * PIXEL
        wavelength = 12.398419843320026 / ENERGY_KEV
        self.qlims = (0.0, float(4 * np.pi * np.sin(np.arctan(r / DIST) / 2) / wavelength))

    def scale(self, delay: float) -> float:
        """Expected diff_plus_ref / ref at a delay (1 for off shots)."""
        for d, s in self.scales.items():
            if np.isclose(delay, d, rtol=1e-9, atol=0.0):
                return s
        if delay == OFF:
            return 1.0
        raise KeyError(delay)

    def wave(self, folder: str, wave: int, per_wave: int, log_path: str) -> list[str]:
        """Online wave: ``per_wave`` new frames, their log rows appended."""
        delays = shot_delays(per_wave)
        first = wave * per_wave
        names = write_frames(folder, first, delays, self.base, self.scales)
        append_log(log_path, names, delays, first, self.rng)
        return names
