"""Geodesy expressions (SURVEY.md O14, O20)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def nmea_coord_to_deg(coord: Column | str, hemisphere: Column | str) -> Column:
    """O14 — NMEA ``ddmm.mmmm`` + hemisphere → signed decimal degrees.

    ``4807.038,N`` → 48 + 7.038/60 = 48.1173; S/W negate.
    """
    c = _c(coord)
    deg = F.floor(c / F.lit(100.0)) + F.pmod(c, F.lit(100.0)) / F.lit(60.0)
    sign = F.when(_c(hemisphere).isin("S", "W"), F.lit(-1.0)).otherwise(F.lit(1.0))
    return deg * sign


def haversine_m(
    lat1: Column | str, lon1: Column | str, lat2: Column | str, lon2: Column | str
) -> Column:
    """O20 — great-circle distance in meters between two fixes."""
    la1, lo1 = F.radians(_c(lat1)), F.radians(_c(lon1))
    la2, lo2 = F.radians(_c(lat2)), F.radians(_c(lon2))
    dlat, dlon = la2 - la1, lo2 - lo1
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(la1) * F.cos(la2) * F.pow(F.sin(dlon / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(h))
