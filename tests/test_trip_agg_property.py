"""Property-based check of the trip aggregation in both tiers (SURVEY.md
§5.2): random event streams through the batch engine, and through the
stream's per-trip fold and finalize, must match an independent
pure-Python model of the intended semantics (Q4 first-arrival equal-ts
dedup, haversine path distance with a NULL-endpoint hop counting 0,
run-length stopped time and span durations over epoch-second floors).
"""

from __future__ import annotations

import json
import math
from datetime import datetime, timezone

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from flink_template_spark.operators.trip_agg import STOPPED_SPEED_KMH, aggregate_trips
from flink_template_spark.parse import parse_trip_events
from flink_template_spark.streaming.trip_sessions import _finalize, _fold

# 2017-09-01T12:00:00-05:00, the events' time origin
T0_US = int(datetime(2017, 9, 1, 17, tzinfo=timezone.utc).timestamp()) * 1_000_000
NAN = float("nan")


def _hav_km(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * 6371.0 * math.asin(math.sqrt(a))


def _model(events):
    """Pure-python reference: events = [(trip, ms, lat, lon, speed)]."""
    out = {}
    for trip in {e[0] for e in events}:
        evs = [e for e in events if e[0] == trip]
        gps_seen, sp_seen = {}, {}
        for _, ms, lat, lon, speed in evs:
            if lat is not None and ms not in gps_seen:
                gps_seen[ms] = (lat, lon)
            if speed is not None and ms not in sp_seen:
                sp_seen[ms] = speed
        gps = [p for _, p in sorted(gps_seen.items())]
        dist = sum(
            _hav_km(*a, *b)
            for a, b in zip(gps, gps[1:])
            if a[1] is not None and b[1] is not None
        )
        # Q5: every reading's ts floored to epoch seconds
        sp = [(ms // 1000, v) for ms, v in sorted(sp_seen.items())]
        stopped = 0
        run_start = prev = None
        for sec, v in sp:
            if v < STOPPED_SPEED_KMH:
                run_start = sec if run_start is None else run_start
                prev = sec
            elif run_start is not None:
                stopped += prev - run_start
                run_start = None
        if run_start is not None:
            stopped += prev - run_start
        all_s = [ms // 1000 for ms in [*gps_seen, *sp_seen]]
        total = max(all_s) - min(all_s) if all_s else 0
        out[trip] = (len(evs), round(dist, 9), total, stopped, total - stopped)
    return out


def _stream(events):
    """Each trip's events, in arrival order, through the stream's
    ``_fold`` and ``_finalize``: trip → OUTPUT_SCHEMA tuple."""
    rows = {}
    for trip, ms, lat, lon, speed in events:
        rows.setdefault(trip, []).append((
            T0_US + ms * 1000,
            None,
            *(NAN if x is None else float(x) for x in (speed, lat, lon)),
        ))
    return {trip: _finalize(trip, _fold(None, rs)[0]) for trip, rs in rows.items()}


def _check(want, got):
    """``got``: trip → (n_events, distance_km, total_s, stopped_s, moving_s)."""
    assert set(got) == set(want)
    for trip, (n, dist, total, stopped, moving) in want.items():
        g_n, g_dist, *rest = got[trip]
        assert g_n == n
        assert abs(g_dist - dist) < 1e-6
        assert tuple(rest) == (total, stopped, moving)


event_st = st.tuples(
    st.integers(min_value=1, max_value=3),          # trip id
    st.integers(min_value=0, max_value=120),        # second of hour
    st.sampled_from((0, 1, 400, 600, 999)),         # millisecond
    st.one_of(
        st.tuples(
            st.floats(min_value=-80, max_value=80, allow_nan=False),
            st.one_of(
                st.floats(min_value=-170, max_value=170, allow_nan=False),
                st.none(),
            ),
        ),
        st.none(),
    ),                                              # (lat, lon or None) or None
    st.one_of(st.integers(min_value=0, max_value=120), st.none()),  # speed
).map(lambda t: (t[0], t[1] * 1000 + t[2], *(t[3] or (None, None)), t[4]))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=st.lists(event_st, min_size=1, max_size=25))
# stopped readings at +0.6/+1.4/+2.2 s: floors 0/1/2 give stopped 2,
# where flooring the summed 1.6 s would give 1
@example(events=[(1, 600, None, None, 0), (1, 1400, None, None, 1), (1, 2200, None, None, 2)])
# a NULL longitude: both hops touching it count 0, the others still add
@example(
    events=[
        (1, 0, 19.40, -99.10, None),
        (1, 1000, 19.41, None, None),
        (1, 2000, 19.42, -99.12, None),
        (1, 3000, 19.43, -99.13, None),
    ]
)
def test_trip_agg_matches_python_model(spark, events):
    lines = []
    for trip, ms, lat, lon, speed in events:
        pid = {}
        if lat is not None:
            pid["GpsReading"] = {
                "heading": 0.0, "horizontalDilutionOfPrecision": 1.0,
                "latitude": lat, "longitude": lon, "numberOfSatellites": 5,
                "hemisphere": "NorthWest", "fixQuality": "Standard",
            }
        if speed is not None:
            pid["VehicleSpeed"] = speed
        sec = ms // 1000
        lines.append(
            json.dumps(
                {
                    "body": {
                        "tripNumber": trip,
                        "timestamp": f"2017-09-01T12:{sec // 60:02d}:{sec % 60:02d}"
                        f".{ms % 1000:03d}-05:00",
                        "type": "TripData",
                        "pidData": pid,
                    }
                }
            )
        )
    raw = spark.createDataFrame([(l,) for l in lines], "value STRING").coalesce(1)
    want = _model(events)
    _check(want, {
        r.trip_id: (r.n_events, r.distance_km, r.total_s, r.stopped_s, r.moving_s)
        for r in aggregate_trips(parse_trip_events(raw)).collect()
    })
    _check(want, {
        trip: (n, dist, total, stopped, moving)
        for trip, _, n, dist, total, moving, stopped in _stream(events).values()
    })
