"""Angle & sailing math as Catalyst expressions (SURVEY.md O15-O19).

The reference computes these per-row in JavaScript (SURVEY.md §2.3,
[PK-high]; mount empty at survey time so no file:line is citable —
SURVEY.md §0). Here each is a pure Column expression: codegen'd,
vectorized, no Python boundary.

Circular-statistics warning (SURVEY.md §7.3): never average headings
directly — go through sin/cos space (:func:`circular_mean_deg`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


# --- O15: unit conversions ----------------------------------------------

KNOTS_PER_MPS = 3600.0 / 1852.0  # computed, not a literal: DuckDB's strtod
# rounds the 17-digit decimal literal to the neighboring ULP, so deriving
# the constant from exact integers keeps both engines bit-identical.
METERS_PER_NM = 1852.0


def knots_to_mps(kn: Column | str) -> Column:
    return _c(kn) / F.lit(KNOTS_PER_MPS)


def nm_to_meters(nm: Column | str) -> Column:
    return _c(nm) * F.lit(METERS_PER_NM)


# --- O16/O17: heading & angle normalization -----------------------------

def norm_360(deg: Column | str) -> Column:
    """Wrap an angle to [0, 360)."""
    return F.pmod(_c(deg), F.lit(360.0))


def norm_180(deg: Column | str) -> Column:
    """Wrap an angle to [-180, 180)."""
    return F.pmod(_c(deg) + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)


def angle_diff(a: Column | str, b: Column | str) -> Column:
    """Smallest signed angular difference a-b in [-180, 180)."""
    return norm_180(_c(a) - _c(b))


def mag_to_true(hdg_mag: Column | str, variation: Column | str) -> Column:
    """O16 — apply magnetic variation (east positive) to a heading."""
    return norm_360(_c(hdg_mag) + _c(variation))


def circular_mean_deg(deg: Column | str) -> Column:
    """Aggregate circular mean of angles in degrees (expression twin of
    the grouped-agg pandas UDF, SURVEY.md O98)."""
    rad = F.radians(_c(deg))
    return norm_360(F.degrees(F.atan2(F.avg(F.sin(rad)), F.avg(F.cos(rad)))))


# --- O18: true wind from apparent ---------------------------------------

def true_wind_speed(
    aws: Column | str, awa: Column | str, boat_speed: Column | str
) -> Column:
    """TWS via vector subtraction: sqrt(aws² + bs² − 2·aws·bs·cos(awa)).

    ``awa`` in degrees relative to the bow (SURVEY.md O18, [STD sailing
    vector math]).
    """
    aws_c, bs = _c(aws), _c(boat_speed)
    cos_awa = F.cos(F.radians(_c(awa)))
    return F.sqrt(
        aws_c * aws_c + bs * bs - F.lit(2.0) * aws_c * bs * cos_awa
    )


def true_wind_angle(
    aws: Column | str, awa: Column | str, boat_speed: Column | str
) -> Column:
    """TWA (signed, degrees): atan2 of the apparent-wind vector minus
    the boat-motion vector, in boat coordinates."""
    awa_rad = F.radians(_c(awa))
    x = _c(aws) * F.cos(awa_rad) - _c(boat_speed)  # along-boat component
    y = _c(aws) * F.sin(awa_rad)  # athwartships component
    return F.degrees(F.atan2(y, x))


def true_wind_direction(twa: Column | str, hdg: Column | str) -> Column:
    """TWD = heading + TWA, wrapped to [0, 360)."""
    return norm_360(_c(hdg) + _c(twa))


# --- O19: VMG ------------------------------------------------------------

def vmg(boat_speed: Column | str, twa: Column | str) -> Column:
    """Velocity made good to windward: bs · cos(twa)."""
    return _c(boat_speed) * F.cos(F.radians(_c(twa)))
