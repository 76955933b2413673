"""Absorption / detector-correction math (trx/utils/absorption.py) as
Column expressions.

The reference resolves attenuation lengths from the ``periodictable``
package (not in this environment); here every function takes ``att_len``
(meters) explicitly — at scale the element→att_len resolution is a tiny
broadcast dimension table precomputed offline (SURVEY F-math5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_E_CHARGE = 1.60217662e-19  # trx/utils/absorption.py:130


def beer_lambert_transmission(
    thickness: Column | str | float,
    att_len: Column | str | float,
    *,
    angle_deg: Column | str | None = None,
) -> Column:
    """T = exp(−t/att_len), path angle-corrected t/cos(angle)
    (trx/utils/absorption.py:23-40 ``transmission``)."""
    t = F.lit(thickness) if isinstance(thickness, float) else (F.col(thickness) if isinstance(thickness, str) else thickness)
    al = F.lit(att_len) if isinstance(att_len, float) else (F.col(att_len) if isinstance(att_len, str) else att_len)
    if angle_deg is not None:
        a = F.col(angle_deg) if isinstance(angle_deg, str) else angle_deg
        t = t / F.cos(F.radians(a))
    return F.exp(-t / al)


def phosphor_correction(
    twotheta_deg: Column | str,
    *,
    mu: float = 17700.0,
    thickness: float = 40e-6,
    normalize_to_zero_angle: bool = False,
) -> Column:
    """Multiplicative phosphor-screen correction
    (trx/utils/absorption.py:57-81): 1/(1−exp(−μ·t/cosθ))."""
    absorbed = 1 - beer_lambert_transmission(thickness, 1.0 / mu, angle_deg=twotheta_deg)
    corr = F.lit(1.0) / absorbed
    if normalize_to_zero_angle:
        import math

        absorbed0 = 1 - math.exp(-mu * thickness)
        corr = corr * F.lit(absorbed0)
    return corr


def charge_to_photon(
    charge: Column | str,
    *,
    abs_fraction: float,
    energy_kev: float = 10.0,
    e_hole_pair_ev: float = 3.63,
) -> Column:
    """Diode charge → photon count (trx/utils/absorption.py:111-131)."""
    c = F.col(charge) if isinstance(charge, str) else charge
    n_charge_per_photon = energy_kev / (e_hole_pair_ev * 1e-3)
    charge_per_photon = n_charge_per_photon * _E_CHARGE
    return c / F.lit(abs_fraction) / F.lit(charge_per_photon)
