"""Spark-free tests of the trip sessionizer's ``_fold`` + ``_finalize`` on
hand-built pandas frames. Each case folds its micro-batches in order,
carrying the state tuple between them as the GroupState would."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from flink_template_spark.streaming.trip_sessions import _finalize, _fold

T0 = pd.Timestamp("2017-09-01 17:00:00")
S, D, E = "TripStartRelativeTime", "TripData", "TripEnd"
LON = -74.0
N = None

# id -> (micro-batches of (second, event_type, vin, speed_kmh, lat),
#        (n_events, vehicle_id, total_s, moving_s, stopped_s),
#        latitudes of the expected GPS path, all at longitude LON)
CASES = {
    # Q4: an equal-ts reading in a LATER batch is ignored even with another
    # payload; the TripStart carries no reading, so the span is 10..30
    "first_insert_wins_across_batches": (
        [[(0, S, "VIN-A", N, N), (10, D, N, 2, 40.70), (20, D, N, 3, 40.71)],
         [(20, D, N, 90, 41.50), (30, D, N, 60, 40.72)]],
        (5, "VIN-A", 20, 10, 10), [40.70, 40.71, 40.72]),
    "out_of_order_rows": (
        [[(40, D, N, 50, 40.74), (10, D, N, 1, 40.71), (0, S, "VIN-B", N, N),
          (30, D, N, 40, 40.73), (20, D, N, 0, 40.72)]],
        (5, "VIN-B", 30, 20, 10), [40.71, 40.72, 40.73, 40.74]),
    # a NaN-lat row keeps its speed reading
    "nan_lat_rows_with_speed": (
        [[(0, D, N, 3, 40.70), (5, D, N, 1, N), (9, D, N, 20, N),
          (12, D, N, 30, 40.71)]],
        (4, None, 12, 7, 5), [40.70, 40.71]),
    # the stopped run 10..35 spans both batches; a lone stop at 60 adds 0
    "stopped_run_split_across_batches": (
        [[(0, S, "VIN-C", N, N), (0, D, N, 40, 40.70), (10, D, N, 0, 40.70),
          (20, D, N, 4, 40.70)],
         [(35, D, N, 2, 40.70), (50, D, N, 30, 40.71), (60, D, N, 1, 40.72)]],
        (7, "VIN-C", 60, 35, 25), [40.70, 40.71, 40.72]),
    # only a TripStart sets the vin (the TripEnd's is ignored), and the
    # first one wins across batches
    "vin_from_first_trip_start": (
        [[(0, D, N, 10, N), (1, E, "VIN-END", N, N)],
         [(2, S, "VIN-1", N, N), (3, S, "VIN-2", N, N), (4, D, N, 12, N)],
         [(5, S, "VIN-3", N, N)]],
        (6, "VIN-1", 4, 4, 0), []),
    "only_trip_end": ([[(42, E, N, N, N)]], (1, None, 0, 0, 0), []),
}


def _batch(rows: list[tuple]) -> pd.DataFrame:
    """The six columns ``_sessionize`` hands to ``_fold``: the vin only on
    TripStart rows, as ``start_vin``."""
    sec, _, _, speed_kmh, lat = zip(*rows)
    return pd.DataFrame({
        "trip_id": 7,
        "ts": T0 + pd.to_timedelta(sec, unit="s"),
        "start_vin": [vin if et == S else None for _, et, vin, _, _ in rows],
        "speed_kmh": speed_kmh,
        "lat": lat,
        "lon": LON,
    })


def _path_km(lats: list[float]) -> float:
    # haversine along a meridian: the longitude term is zero
    return sum(
        2 * 6371.0 * math.asin(abs(math.sin(math.radians(b - a) / 2)))
        for a, b in zip(lats, lats[1:])
    )


@pytest.mark.parametrize("batches,expected,lats", CASES.values(), ids=CASES.keys())
def test_fold_finalize(batches, expected, lats):
    st = None
    for rows in batches:
        st, max_event_ms = _fold(st, iter([_batch(rows)]))
        last = T0 + pd.Timedelta(seconds=max(r[0] for r in rows))
        assert max_event_ms == last.value // 1_000_000
    got = _finalize(7, st).iloc[0]
    assert (
        got.trip_id, got.n_events, got.vehicle_id, got.total_s, got.moving_s,
        got.stopped_s,
    ) == (7, *expected)
    assert got.distance_km == pytest.approx(_path_km(lats), abs=1e-9)
