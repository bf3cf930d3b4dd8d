"""Stateful streaming trip sessionization — the Spark-native rebuild of
the reference's windowing core (SURVEY.md §2.3 W3+W4+W5):

reference                                   → here
keyBy(trip id) + GlobalWindows              → GroupState per hash bucket
  (TripAggregatorApplication.kt:166)          pmod(trip_id, BUCKETS) holding
                                              its open trips
ProcessingTimeTrigger(min=10 ms, max=4 s)   → per-trip deadline, same re-arm
  (ProcessingTimeTrigger.kt:9-76)             rule; the bucket's timeout is
                                              its earliest deadline
FIRE_AND_PURGE + clear()                    → emit the trip, drop it from its
                                              bucket; remove an empty bucket
AggregateFunction add/getResult             → buffered state + Python finalize
  (TripAggregatorApplication.kt:58-164)

One session function serves both entry points: the processing-time
re-arm rule tested against the batch time, or the event-time gap tested
against the watermark. A call folds its bucket's rows into their trips
and closes each trip that got none and whose deadline is strictly below
that threshold (Spark's own per-key test, ``timeoutTimestamp <
threshold``), so a trip closes in the same micro-batch as under a
per-trip key; a late event after a purge re-opens a fresh session (W6).
BUCKETS caps the Python calls per micro-batch, each of which pays
pyspark's per-group conversion. A checkpoint written under the per-trip
key cannot be resumed: the state key and schema differ.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_template_spark.functions.geo import haversine_km_scalar
from flink_template_spark.operators.trip_agg import OUTPUT_SCHEMA, STOPPED_SPEED_KMH

MIN_RETENTION_MS = 10
MAX_RETENTION_MS = 4000
# GroupState keys; fixed, since a checkpoint's state is keyed by them
BUCKETS = 16

# One open trip: PID-bearing readings only, DEDUPED by timestamp ON
# INSERT (the reference's TreeSet, TripAggregation.kt:17-19 / quirk Q4),
# so a trip's state is bounded by its DISTINCT timestamps (SURVEY.md
# §4.1 / hard-part 4) and is dropped on emit.
TRIP_STATE = T.StructType(
    [
        T.StructField("trip_id", T.LongType()),
        T.StructField("gps_ts", T.ArrayType(T.LongType())),
        T.StructField("gps_lat", T.ArrayType(T.DoubleType())),
        T.StructField("gps_lon", T.ArrayType(T.DoubleType())),
        T.StructField("sp_ts", T.ArrayType(T.LongType())),
        T.StructField("sp_kmh", T.ArrayType(T.IntegerType())),
        T.StructField("vin", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("deadline_ms", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType([T.StructField("trips", T.ArrayType(TRIP_STATE))])


def _finalize(trip_id: int, st: tuple) -> tuple:
    """A6-A9 over one session's state (TRIP_STATE after trip_id) → an
    OUTPUT_SCHEMA row, by the batch tier's rules (operators.trip_agg has
    the quirk ledger): a hop with a NULL (NaN) endpoint counts 0, and
    each stopped delta is taken between epoch-second floors."""
    gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, _ = st
    gps = sorted(zip(gps_ts, gps_lat, gps_lon))
    hops = (
        haversine_km_scalar(la0, lo0, la1, lo1)
        for (_, la0, lo0), (_, la1, lo1) in zip(gps, gps[1:])
    )
    dist = sum(hop for hop in hops if hop == hop)  # a NaN hop counts 0
    sp = sorted(zip(sp_ts, sp_kmh))
    stopped_s = sum(
        t1 // 1_000_000 - t0 // 1_000_000
        for (t0, v0), (t1, v1) in zip(sp, sp[1:])
        if v0 < STOPPED_SPEED_KMH and v1 < STOPPED_SPEED_KMH
    )
    all_ts = [*gps_ts, *sp_ts]
    total_s = (max(all_ts) // 1_000_000 - min(all_ts) // 1_000_000) if all_ts else 0
    return (trip_id, vin, n_events, float(dist), total_s, total_s - stopped_s, stopped_s)


def _fold(prev: tuple | None, rows: list[tuple]) -> tuple[tuple, int]:
    """Fold one trip's rows of a call, ``(ts in us, start_vin, speed_kmh,
    lat, lon)`` with NaN for NULL, into its (possibly new) session state.
    The vin is the first non-NULL ``start_vin``, i.e. the first
    TripStart's. Returns the state plus the max event time in epoch ms."""
    *buffers, vin, n_events, deadline_ms = prev or ((), (), (), (), (), None, 0, 0)
    gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh = map(list, buffers)

    # membership sets make the Q4 insert-dedup O(1) per event
    gps_known, sp_known = set(gps_ts), set(sp_ts)
    for ts, start_vin, speed_kmh, lat, lon in rows:
        if vin is None:
            vin = start_vin
        # x == x is False only for NaN, i.e. a NULL reading
        if lat == lat and ts not in gps_known:
            gps_known.add(ts)
            gps_ts.append(ts)
            gps_lat.append(lat)
            gps_lon.append(lon)
        if speed_kmh == speed_kmh and ts not in sp_known:
            sp_known.add(ts)
            sp_ts.append(ts)
            sp_kmh.append(int(speed_kmh))
    st = (gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events + len(rows), deadline_ms)
    return st, max(ts for ts, *_ in rows) // 1_000


def _processing_time_deadline(deadline_ms: int, _: int, now_ms: int) -> int:
    # ProcessingTimeTrigger re-arm rule (ProcessingTimeTrigger.kt:30-42): on
    # an element, if there is no deadline, or the existing deadline is closer
    # than now+min_retention, set it to now+max_retention; else keep it.
    if deadline_ms == 0 or deadline_ms < now_ms + MIN_RETENTION_MS:
        return now_ms + MAX_RETENTION_MS
    return deadline_ms


def _event_time_deadline(deadline_ms: int, max_event_ms: int, _: int) -> int:
    # event-time session gap: the deadline only moves FORWARD, to last
    # event + gap. The watermark moves once per micro-batch, so a gap over
    # MAX_RETENTION_MS inside one batch does not split the session.
    return max(deadline_ms, max_event_ms + MAX_RETENTION_MS)


def _bucket_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState, event_time: bool
) -> Iterator[pd.DataFrame]:
    """One bucket's call, with rows or on its timeout: fold the rows into
    their trips, close every trip that got none and whose deadline is
    below the threshold, then arm the bucket's timeout to its earliest
    open deadline, or remove the bucket once it holds no trip."""
    if event_time:
        rule, now_ms = _event_time_deadline, state.getCurrentWatermarkMs()
    else:
        rule, now_ms = _processing_time_deadline, state.getCurrentProcessingTimeMs()
    trips = {st[0]: tuple(st[1:]) for st in state.get[0]} if state.exists else {}
    fed: dict[int, list[tuple]] = {}  # the call's rows per trip, in arrival order
    for pdf in pdfs:
        cols = (
            pdf["ts"].to_numpy("datetime64[us]").view("int64").tolist(),
            pdf["start_vin"].tolist(),
            *(pdf[c].to_numpy("float64").tolist() for c in ("speed_kmh", "lat", "lon")),
        )
        for trip_id, row in zip(pdf["trip_id"].tolist(), zip(*cols)):
            fed.setdefault(trip_id, []).append(row)
    for trip_id, rows in fed.items():
        (*st, deadline_ms), max_event_ms = _fold(trips.get(trip_id), rows)
        trips[trip_id] = (*st, rule(deadline_ms, max_event_ms, now_ms))
    # every trip below the threshold is due, fed in this call or not:
    # Spark passes rows behind the watermark to this function, so an
    # event-time trip fed only rows over MAX_RETENTION_MS behind it
    # closes in this same call
    due = [trip_id for trip_id, st in trips.items() if st[-1] < now_ms]
    closed = [_finalize(trip_id, trips.pop(trip_id)) for trip_id in due]
    if not trips:
        state.remove()
    else:
        state.update(([(trip_id, *st) for trip_id, st in trips.items()],))
        first_ms = min(st[-1] for st in trips.values())
        if event_time:
            state.setTimeoutTimestamp(first_ms)
        else:
            # durations must be positive, so a deadline equal to this
            # batch's time is armed 1 ms after it
            state.setTimeoutDuration(max(first_ms - now_ms, 1))
    if closed:
        yield pd.DataFrame(closed, columns=OUTPUT_SCHEMA.fieldNames())


def _sessionize(parsed_stream: DataFrame, watermark: str, event_time: bool) -> DataFrame:
    # Only the key and the columns _fold reads cross into Python; the
    # projection follows withWatermark, which EventTimeTimeout needs.
    return (
        parsed_stream.withWatermark("ts", watermark)
        .select(
            F.pmod("trip_id", F.lit(BUCKETS)).alias("bucket"),
            "trip_id",
            "ts",
            F.when(F.col("event_type") == "TripStartRelativeTime", F.col("vin"))
            .alias("start_vin"),
            "speed_kmh", "lat", "lon",
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            partial(_bucket_fn, event_time=event_time),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout
            if event_time
            else GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def sessionize_trips(
    parsed_stream: DataFrame, watermark: str = "3 seconds"
) -> DataFrame:
    """parsed trip-event stream → per-session aggregate rows (append mode,
    emitted when a trip goes quiet for MAX_RETENTION_MS of processing
    time, exactly like the reference's session trigger).

    The 3 s event-time watermark is the reference's W1
    (BoundedOutOfOrdernessTimestampExtractor,
    TripAggregatorApplication.kt:168-174); firing remains purely
    processing-time-driven (the reference's onEventTime is CONTINUE)."""
    return _sessionize(parsed_stream, watermark, event_time=False)


def sessionize_trips_event_time(
    parsed_stream: DataFrame, watermark: str = "3 seconds"
) -> DataFrame:
    """Watermark-driven sessionization dual: a session closes at the
    first micro-batch whose watermark has passed its last event time +
    MAX_RETENTION_MS. Same state, same finalize, same FIRE_AND_PURGE;
    this is the variant to use when replaying history (a backfill at
    100 TB replays days of events in minutes of wall clock — a
    processing-time trigger would merge everything into one session).

    The watermark moves once per micro-batch, not per event, so the
    sessions depend on how the input is cut into batches: a gap over
    MAX_RETENTION_MS between two readings that arrive in the same
    micro-batch does not split the trip, whereas a per-event gap rule
    (Spark's ``session_window``) would split it.
    """
    return _sessionize(parsed_stream, watermark, event_time=True)
