"""Spark-free tests of the trip sessionizer's bucket session function
``_bucket_fn`` on hand-built pandas frames, through pyspark's own
``GroupState`` (the class the Python worker hands the function, with its
argument checks). Each micro-batch calls the function the way Spark's
stateful operator does: once per bucket with rows, then once per bucket
whose armed timeout is strictly below the batch's threshold. The bucket's
state is carried between calls as the JVM carries it, through
``STATE_SCHEMA.toInternal`` and a pickle round trip."""

from __future__ import annotations

import json
import math
import pickle
import random

import pandas as pd
import pytest

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_template_spark.streaming.trip_sessions import (
    BUCKETS,
    STATE_SCHEMA,
    _bucket_fn,
    _finalize,
)

T0 = pd.Timestamp("2017-09-01 17:00:00")
T0_US = T0.value // 1_000
S, D, E = "TripStartRelativeTime", "TripData", "TripEnd"
LON = -74.0
N = None
# MIN_/MAX_RETENTION_MS, restated for the reference
MIN_GAP_MS, GAP_MS = 10, 4000
WATERMARK_DELAY_MS = 3000


def _frame(rows: list[tuple]) -> pd.DataFrame:
    """``_sessionize``'s columns for rows of (trip_id, us after T0,
    event_type, vin, speed_kmh, lat): the vin only on TripStart rows,
    the longitude only with a latitude."""
    trip_id, us, et, vin, speed_kmh, lat = zip(*rows) if rows else ((),) * 6
    return pd.DataFrame({
        "bucket": [t % BUCKETS for t in trip_id],
        "trip_id": list(trip_id),
        "ts": T0 + pd.to_timedelta(list(us), unit="us"),
        "start_vin": [v if e == S else None for e, v in zip(et, vin)],
        "speed_kmh": list(speed_kmh),
        "lat": list(lat),
        "lon": [None if la is None else LON for la in lat],
    })


def _call(value, rows, now_ms: int, event_time: bool, timed_out: bool = False):
    """One ``_bucket_fn`` call; returns (emitted OUTPUT_SCHEMA tuples,
    state value as the JVM would hand it back or None, armed timeout)."""
    state = GroupState(
        optionalValue=value,
        batchProcessingTimeMs=0 if event_time else now_ms,
        eventTimeWatermarkMs=now_ms if event_time else GroupState.NO_TIMESTAMP,
        timeoutConf=GroupStateTimeout.EventTimeTimeout
        if event_time
        else GroupStateTimeout.ProcessingTimeTimeout,
        hasTimedOut=timed_out,
        watermarkPresent=True,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=STATE_SCHEMA,
    )
    out = list(_bucket_fn((0,), iter([_frame(rows)]), state, event_time=event_time))
    emitted = [tuple(r) for pdf in out for r in pdf.itertuples(index=False)]
    props = json.loads(state.json())
    if not state.exists:
        assert props["removed"]
        return emitted, None, props["timeoutTimestamp"]
    wire = pickle.loads(pickle.dumps(STATE_SCHEMA.toInternal(state._value)))
    return emitted, wire, props["timeoutTimestamp"]


# ---- one trip, case by case ------------------------------------------------

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


def _path_km(lats: list[float]) -> float:
    # haversine along a meridian: the longitude term is zero
    return sum(
        2 * 6371.0 * math.asin(abs(math.sin(math.radians(b - a) / 2)))
        for a, b in zip(lats, lats[1:])
    )


@pytest.mark.parametrize("batches,expected,lats", CASES.values(), ids=CASES.keys())
def test_fold_finalize(batches, expected, lats):
    """Fold each case's batches into trip 7 with the watermark held back,
    then let it pass: the one emitted row is the session's aggregate."""
    value, armed = None, 0
    for batch in batches:
        rows = [(7, sec * 1_000_000, *rest) for sec, *rest in batch]
        # the event-time deadline only moves forward, to last event + gap
        last_ms = (T0_US // 1_000) + 1_000 * max(sec for sec, *_ in batch)
        deadline = max(armed, last_ms + GAP_MS)
        emitted, value, armed = _call(value, rows, 1, event_time=True)
        assert (emitted, armed) == ([], deadline)
    emitted, value, _ = _call(value, [], armed + 1, event_time=True, timed_out=True)
    assert value is None
    ((trip_id, vin, n_events, dist, total_s, moving_s, stopped_s),) = emitted
    assert (trip_id, n_events, vin, total_s, moving_s, stopped_s) == (7, *expected)
    assert dist == pytest.approx(_path_km(lats), abs=1e-9)


@pytest.mark.parametrize("event_time", [True, False], ids=["event_time", "processing_time"])
def test_a_deadline_equal_to_the_threshold_stays_open(event_time):
    """Spark's timeout test is strict (``timeoutTimestamp < threshold``):
    at a threshold equal to the deadline the trip stays open, one past it
    the trip closes."""
    start_ms = T0_US // 1_000
    now_ms = start_ms if event_time else 10_000
    _, value, deadline = _call(None, [(3, 0, D, N, 5, 40.7)], now_ms, event_time)
    assert deadline == (start_ms if event_time else now_ms) + GAP_MS
    emitted, value, armed = _call(value, [], deadline, event_time, timed_out=True)
    assert (emitted, armed) == ([], deadline if event_time else deadline + 1)
    emitted, value, _ = _call(value, [], deadline + 1, event_time, timed_out=True)
    assert [r[0] for r in emitted] == [3] and value is None


# ---- many trips per bucket against a per-trip reference ---------------------


def _ref_fold(prev: list | None, rows: list[tuple]) -> list:
    """The per-trip fold over (trip_id, us, event_type, vin, speed, lat)
    rows: first TripStart's vin, Q4 first-insert-wins per stream."""
    st = prev or [[], [], [], [], [], None, 0, 0]
    gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh = st[:5]
    for _, us, et, vin, speed_kmh, lat in rows:
        ts = T0_US + us
        st[6] += 1
        if st[5] is None and et == S:
            st[5] = vin
        if lat is not None and ts not in gps_ts:
            gps_ts.append(ts)
            gps_lat.append(lat)
            gps_lon.append(LON)
        if speed_kmh is not None and ts not in sp_ts:
            sp_ts.append(ts)
            sp_kmh.append(speed_kmh)
    return st


class PerTripReference:
    """One state per trip, the per-trip deadline rules, and Spark's
    per-key close: a trip with no rows in the batch whose deadline is
    below the threshold emits and is dropped."""

    def __init__(self, event_time: bool):
        self.event_time = event_time
        self.trips: dict[int, list] = {}

    def batch(self, rows: list[tuple], now_ms: int) -> list[tuple]:
        fed: dict[int, list[tuple]] = {}
        for row in rows:
            fed.setdefault(row[0], []).append(row)
        for trip_id, trip_rows in fed.items():
            st = self.trips[trip_id] = _ref_fold(self.trips.get(trip_id), trip_rows)
            if self.event_time:
                last_ms = (T0_US + max(r[1] for r in trip_rows)) // 1_000
                st[7] = max(st[7], last_ms + GAP_MS)
            elif st[7] == 0 or st[7] < now_ms + MIN_GAP_MS:
                st[7] = now_ms + GAP_MS
        due = [t for t, st in self.trips.items() if t not in fed and st[7] < now_ms]
        return [_finalize(t, tuple(self.trips.pop(t))) for t in due]

    def open_buckets(self) -> set[int]:
        return {t % BUCKETS for t in self.trips}

    def armed(self, bucket: int, called_ms: int) -> int:
        """The earliest open deadline in ``bucket``. pyspark's durations
        must be positive, so a processing-time timeout armed by a call at
        ``called_ms`` is at least called_ms + 1."""
        first = min(st[7] for t, st in self.trips.items() if t % BUCKETS == bucket)
        return first if self.event_time else max(first, called_ms + 1)


def _random_batches(rng: random.Random, n_batches: int, n_trips: int):
    """Micro-batches of (trip_id, us after T0, event_type, vin, speed,
    lat) rows. Each batch covers a few seconds of event time; a trip sits
    out some batches, so it closes and re-opens. Timestamps fall on a
    250 ms grid, so equal timestamps repeat within and across batches,
    and some rows lag the batch's window."""
    start_s = 0
    for _ in range(n_batches):
        span_s = rng.randint(3, 12)
        rows = []
        for trip_id in range(1, n_trips + 1):
            if rng.random() < 0.45:
                continue
            for _ in range(rng.randint(1, 4)):
                us = rng.randrange((start_s - 2) * 4, (start_s + span_s) * 4) * 250_000
                kind = rng.random()
                if kind < 0.1:
                    rows.append((trip_id, us, S, f"VIN-{rng.randint(0, 99)}", N, N))
                elif kind < 0.15:
                    rows.append((trip_id, us, E, "VIN-END", N, N))
                else:
                    speed = N if rng.random() < 0.2 else rng.randint(0, 40)
                    lat = N if rng.random() < 0.2 else 40.7 + rng.randint(0, 99) / 1e4
                    rows.append((trip_id, us, D, N, speed, lat))
        rng.shuffle(rows)
        yield rows
        start_s += span_s


@pytest.mark.parametrize("seed", range(5))
@pytest.mark.parametrize("event_time", [True, False], ids=["event_time", "processing_time"])
def test_bucket_sessions_match_per_trip_sessions(event_time, seed):
    rng = random.Random(seed)
    ref = PerTripReference(event_time)
    store: dict[int, tuple] = {}  # bucket -> (state value, armed timeout, call ms)
    max_event_ms, now_ms, n_closed = 0, 10_000, 0
    for rows in _random_batches(rng, n_batches=30, n_trips=4 * BUCKETS):
        if event_time:
            now_ms = max(0, max_event_ms - WATERMARK_DELAY_MS)
            # Spark drops late rows before the stateful operator
            rows = [r for r in rows if T0_US + r[1] > now_ms * 1_000]
            max_event_ms = max([max_event_ms] + [(T0_US + r[1]) // 1_000 for r in rows])
        else:
            now_ms += rng.choice([500, 1000, 2000, 3000, 4000, 4500])
        expected = ref.batch(rows, now_ms)

        by_bucket: dict[int, list[tuple]] = {}
        for row in rows:
            by_bucket.setdefault(row[0] % BUCKETS, []).append(row)

        def call(bucket: int, bucket_rows: list[tuple], timed_out: bool) -> list[tuple]:
            value = store.pop(bucket, (None, 0))[0]
            out, value, armed = _call(value, bucket_rows, now_ms, event_time, timed_out)
            if value is not None:
                store[bucket] = (value, armed, now_ms)
            return out

        emitted = [r for b, b_rows in by_bucket.items() for r in call(b, b_rows, False)]
        # then Spark's timeout pass, over every state the data pass left
        due = [b for b, (_, armed, _) in store.items() if armed < now_ms]
        emitted += [r for b in due for r in call(b, [], True)]
        assert sorted(emitted) == sorted(expected)
        n_closed += len(expected)
        # a drained bucket is removed; every other one is armed at its
        # earliest open deadline
        assert set(store) == ref.open_buckets()
        for bucket, (_, armed, called_ms) in store.items():
            assert armed == ref.armed(bucket, called_ms)
    assert n_closed > 50
