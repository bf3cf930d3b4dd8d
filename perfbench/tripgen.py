"""Seeded trip-event generator in the reference wire format.

Each line is ``{"body": {...}}`` with an ISO-8601 offset timestamp, as the
parse layer expects. One seed gives byte-identical files and the same
expected per-trip aggregates.

What the generated stream contains:

- trips with skewed lengths (a Pareto tail), so per-key state keeps growing
  across micro-batches for the long ones;
- consecutive readings of a trip 1-3 s apart, under the 4 s session gap;
- arrival delays of 0-2 s, so events arrive out of order but never behind
  the 3 s watermark;
- equal-timestamp duplicates with a different payload, written a few lines
  after the original in the same file (quirk Q4: the first one wins);
- malformed JSON, an unknown event type and an invalid enum (all dropped),
  an unknown pidData key (ignored, row kept) and TripEnd rows (counted,
  no reading);
- one trailing sentinel event far past every trip, so the watermark closes
  every real trip inside a bounded stream run.

Timestamps are whole seconds, so the batch path (second-granularity
deltas) and the streaming fold (microsecond runs floored once) agree.
"""

from __future__ import annotations

import math
import os
import random
import time
from dataclasses import dataclass, field

EARTH_RADIUS_KM = 6371.0
STOPPED_SPEED_KMH = 5
# 2024-03-01T00:00:00Z; the generated run spans a few minutes after it
BASE_EPOCH_S = 1_709_251_200
OFFSETS = [("-05:00", -5 * 3600), ("+01:00", 3600), ("+00:00", 0)]
PROTOCOLS = ["CAN11Bit", "CAN29Bit", "ISO9141", "ISO14230", "PWM"]
SENTINEL_TRIP = 9_999_999
SENTINEL_LEAD_S = 30


@dataclass
class TripSpec:
    """What one generate() call produced: the lines per file and the
    aggregates a correct engine computes from them."""

    files: list[list[str]]
    expected: dict[int, tuple]  # trip_id -> (vehicle_id, n_events, distance_km, total_s, moving_s, stopped_s)
    n_lines: int
    real_trips: int
    sentinel_trip: int = SENTINEL_TRIP
    stats: dict = field(default_factory=dict)


def haversine_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Same expression order as functions.geo.haversine_km."""
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = math.sin(dlat / 2) * math.sin(dlat / 2) + math.cos(rlat1) * math.cos(
        rlat2
    ) * math.sin(dlon / 2) * math.sin(dlon / 2)
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


class _Clock:
    """Epoch second -> ISO-8601 string with a UTC offset, memoized (a run
    spans a few thousand distinct seconds)."""

    def __init__(self) -> None:
        self._memo: dict[tuple[int, int], str] = {}

    def iso(self, epoch_s: int, offset_idx: int) -> str:
        key = (epoch_s, offset_idx)
        s = self._memo.get(key)
        if s is None:
            label, shift = OFFSETS[offset_idx]
            t = time.gmtime(epoch_s + shift)
            s = (
                f"{t.tm_year:04d}-{t.tm_mon:02d}-{t.tm_mday:02d}T"
                f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d}{label}"
            )
            self._memo[key] = s
        return s


def _gps(lat: str, lon: str, hemisphere: str = "NorthWest") -> str:
    return (
        '"GpsReading": {"heading": 90.0, "horizontalDilutionOfPrecision": 0.8, '
        f'"latitude": {lat}, "longitude": {lon}, "numberOfSatellites": 7, '
        f'"hemisphere": "{hemisphere}", "fixQuality": "Standard"}}'
    )


def _data_line(trip: int, ts: str, lat: str, lon: str, speed: int, extra: str = "",
               hemisphere: str = "NorthWest") -> str:
    pid = f"{_gps(lat, lon, hemisphere)}, \"VehicleSpeed\": {speed}{extra}"
    return (
        f'{{"body": {{"tripNumber": {trip}, "timestamp": "{ts}", '
        f'"type": "TripData", "pidData": {{{pid}}}}}}}'
    )


def _start_line(trip: int, ts: str, vin: str, protocol: str) -> str:
    return (
        f'{{"body": {{"tripNumber": {trip}, "timestamp": "{ts}", '
        f'"type": "TripStartRelativeTime", "odometer": {10000 + trip}, '
        f'"vehicleProtocol": "{protocol}", "vin": "{vin}"}}}}'
    )


def _end_line(trip: int, ts: str) -> str:
    return (
        f'{{"body": {{"tripNumber": {trip}, "timestamp": "{ts}", '
        f'"type": "TripEnd", "odometer": {10100 + trip}, "fuelConsumed": 1.5}}}}'
    )


def _speed_only_line(trip: int, ts: str, speed: int) -> str:
    return (
        f'{{"body": {{"tripNumber": {trip}, "timestamp": "{ts}", '
        f'"type": "TripData", "pidData": {{"VehicleSpeed": {speed}}}}}}}'
    )


def _aggregate(vin: str | None, n_events: int, gps: list, speeds: list) -> tuple:
    """Expected trip_agg row from the kept readings (already first-wins
    deduped by timestamp, in arrival order)."""
    gps = sorted(gps)
    dist = 0.0
    for (_, la0, lo0), (_, la1, lo1) in zip(gps, gps[1:]):
        dist += haversine_km(la0, lo0, la1, lo1)
    speeds = sorted(speeds)
    stopped = 0
    for (t0, v0), (t1, v1) in zip(speeds, speeds[1:]):
        if v0 < STOPPED_SPEED_KMH and v1 < STOPPED_SPEED_KMH:
            stopped += t1 - t0
    all_ts = [t for t, _, _ in gps] + [t for t, _ in speeds]
    total = (max(all_ts) - min(all_ts)) if all_ts else 0
    return (vin, n_events, dist, total, total - stopped, stopped)


def generate(seed: int, n_events: int, span_s: int, slice_s: int) -> TripSpec:
    """Whole trips, started over ``span_s`` seconds of event time, until
    about ``n_events`` lines are written; cut into files of ``slice_s``
    seconds of arrival time. A fixed line count (rather than a fixed trip
    count) keeps each seed's work the same under the skewed trip lengths."""
    target_lines = n_events
    rng = random.Random(seed)
    clock = _Clock()
    arrivals: list[tuple[int, int, str]] = []  # (arrival_s, order, line)
    order = 0
    expected: dict[int, tuple] = {}
    n_dups = n_bad = 0

    def emit(arrival: int, line: str) -> None:
        nonlocal order
        arrivals.append((arrival, order, line))
        order += 1

    trip_ids: list[int] = []
    while len(arrivals) < target_lines:
        trip = rng.randrange(1, SENTINEL_TRIP)
        if trip in expected:
            continue
        trip_ids.append(trip)
        # Pareto-skewed length: most trips are short, a few span the run
        n_read = min(int(6 * rng.paretovariate(1.3)), span_s // 3)
        duration = 3 * n_read + 2
        t = BASE_EPOCH_S + rng.randrange(0, max(1, span_s - duration))
        off = rng.randrange(len(OFFSETS))
        vin = f"VIN{trip:07d}"
        emit(t + rng.randrange(3), _start_line(trip, clock.iso(t, off), vin,
                                               rng.choice(PROTOCOLS)))
        n_events = 1
        gps: list[tuple[int, float, float]] = []
        speeds: list[tuple[int, int]] = []
        lat0 = 19.0 + rng.random()
        lon0 = -99.0 - rng.random()
        stopped_run = 0
        for i in range(n_read):
            t += rng.randint(1, 3)
            if stopped_run > 0:
                speed = rng.randrange(0, STOPPED_SPEED_KMH)
                stopped_run -= 1
            elif rng.random() < 0.08:
                stopped_run = rng.randint(2, 10)
                speed = rng.randrange(0, STOPPED_SPEED_KMH)
            else:
                speed = rng.randrange(STOPPED_SPEED_KMH, 120)
                lat0 += (rng.random() - 0.5) * 0.002
                lon0 += (rng.random() - 0.5) * 0.002
            lat, lon = f"{lat0:.6f}", f"{lon0:.6f}"
            ts = clock.iso(t, off)
            arrival = t + rng.randrange(3)
            roll = rng.random()
            if roll < 0.01:
                # invalid enum: the whole reading is dropped by parse
                emit(arrival, _data_line(trip, ts, lat, lon, speed,
                                         hemisphere="MiddleEarth"))
                n_bad += 1
                continue
            if roll < 0.03:
                # a speed-only reading (no GPS fix)
                emit(arrival, _speed_only_line(trip, ts, speed))
                speeds.append((t, speed))
                n_events += 1
                continue
            extra = ', "NotAPid": 123' if roll < 0.05 else ""
            emit(arrival, _data_line(trip, ts, lat, lon, speed, extra))
            gps.append((t, float(lat), float(lon)))
            speeds.append((t, speed))
            n_events += 1
            if roll > 0.98:
                # Q4: same timestamp, other payload, arrives later in the
                # same slice; counted as an event, ignored as a reading
                emit(arrival, _data_line(trip, ts, f"{lat0 + 1:.6f}", lon,
                                         (speed + 60) % 120))
                n_events += 1
                n_dups += 1
        t += 1
        emit(t + rng.randrange(3), _end_line(trip, clock.iso(t, off)))
        n_events += 1
        expected[trip] = _aggregate(vin, n_events, gps, speeds)

    last_arrival = max(a for a, _, _ in arrivals)
    for k in range(max(4, len(trip_ids) // 50)):
        a = BASE_EPOCH_S + rng.randrange(0, max(1, last_arrival - BASE_EPOCH_S))
        if k % 2:
            emit(a, "{not json at all")
        else:
            emit(a, f'{{"body": {{"tripNumber": {rng.choice(trip_ids)}, '
                    f'"timestamp": "{clock.iso(a, 0)}", "type": "Bogus"}}}}')
        n_bad += 1
    # the sentinel advances the watermark past every real trip's deadline;
    # it opens a one-event trip that never closes in the stream
    ts_sentinel = last_arrival + SENTINEL_LEAD_S
    emit(ts_sentinel, _speed_only_line(SENTINEL_TRIP, clock.iso(ts_sentinel, 2), 50))
    expected[SENTINEL_TRIP] = _aggregate(None, 1, [], [(ts_sentinel, 50)])

    arrivals.sort()
    # slices are cut from the fixed base time and the last one takes the
    # late tail, so every seed gives the same number of files; the
    # sentinel gets a file of its own
    n_data = max(1, span_s // slice_s)
    files: list[list[str]] = [[] for _ in range(n_data + 1)]
    for a, _, line in arrivals[:-1]:
        files[min((a - BASE_EPOCH_S) // slice_s, n_data - 1)].append(line)
    files[-1].append(arrivals[-1][2])
    files = [f for f in files if f]
    return TripSpec(
        files=files,
        expected=expected,
        n_lines=len(arrivals),
        real_trips=len(trip_ids),
        stats={"duplicates": n_dups, "dropped_lines": n_bad},
    )


def write(spec: TripSpec, directory: str) -> list[str]:
    """Write one file per slice, with strictly increasing modification
    times so a file stream source reads them in slice order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, lines in enumerate(spec.files):
        p = os.path.join(directory, f"slice-{i:05d}.jsonl")
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(p)
    return paths
