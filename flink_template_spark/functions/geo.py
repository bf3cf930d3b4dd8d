"""Geospatial Column-expression builders (no UDFs — pure Catalyst exprs,
whole-stage-codegen friendly).

Reference parity: the reference computes GPS path distance with a
haversine implementation at ``TripAggregatorApplication.kt:31-51`` (earth
radius R = 6371 km, ``:49-50``). Two documented reference bugs are NOT
reproduced (SURVEY.md §2.4 quirks):

- Q6: the reference applies ``cos()`` to longitudes (swapped lat/lon
  roles); we implement standard haversine.
- Q3: the reference stores kilometers in a field named
  ``distanceInMeter``; we name units honestly (``_km``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (lat, lon) points.

    Built entirely from JVM-side expressions (radians/sin/cos/asin/sqrt)
    so it stays inside whole-stage codegen — the hot path for per-event
    distance folding at 100 TB.
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def haversine_km_scalar(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """The same distance on Python floats, for per-key pandas state
    (streaming.trip_sessions finalizes a session's GPS path with it)."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1)
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The same expression as ANSI SQL text (for oracle parity checks)."""
    return (
        f"2 * {EARTH_RADIUS_KM} * asin(sqrt("
        f"sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin(radians(({lon2}) - ({lon1})) / 2) * sin(radians(({lon2}) - ({lon1})) / 2)"
        f"))"
    )


def haversine_km_bug_compat(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """The reference's haversine, bugs included, for ``--bug-compat``
    result parity (TripAggregatorApplication.kt:42-48, quirk Q6):
    ``cos()`` applied to the longitudes and Δ computed over (lon as φ,
    lat as λ). SURVEY.md's verification pair: reference 1.1258 km vs
    correct 1.5284 km."""
    dlon = F.radians(lon2 - lon1)
    dlat = F.radians(lat2 - lat1)
    a = (
        F.sin(dlon / 2) * F.sin(dlon / 2)
        + F.cos(F.radians(lon1)) * F.cos(F.radians(lon2))
        * F.sin(dlat / 2) * F.sin(dlat / 2)
    )
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))
