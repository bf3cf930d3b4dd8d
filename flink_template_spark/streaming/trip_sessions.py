"""Stateful streaming trip sessionization — the Spark-native rebuild of
the reference's windowing core (SURVEY.md §2.3 W3+W4+W5):

reference                                   → here
GlobalWindows per trip id                   → keyed GroupState
ProcessingTimeTrigger(min=10 ms, max=4 s)   → ProcessingTimeTimeout with
  (ProcessingTimeTrigger.kt:9-76)             the same re-arm rule
FIRE_AND_PURGE + clear()                    → emit on timeout + state.remove()
AggregateFunction add/getResult             → buffered state + pandas finalize
  (TripAggregatorApplication.kt:58-164)

One session function serves both entry points; they differ only in
its deadline rule (the processing-time re-arm rule or the event-time
gap) and the matching GroupStateTimeout. On timeout: emit the aggregate
and purge (FIRE_AND_PURGE, :15-24). Late events after a purge re-open a
fresh session (W6).

State stays bounded per key (the reference's retention bound, SURVEY.md
§4.1): buffers hold only PID-bearing readings, deduped by timestamp ON
INSERT (the reference's TreeSet behavior) — state is bounded by the
session's distinct timestamps, not raw event count — and are dropped on
every emit.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_template_spark.functions.geo import haversine_km_scalar
from flink_template_spark.operators.trip_agg import STOPPED_SPEED_KMH

MIN_RETENTION_MS = 10
MAX_RETENTION_MS = 4000

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("trip_id", T.LongType()),
        T.StructField("vehicle_id", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("distance_km", T.DoubleType()),
        T.StructField("total_s", T.LongType()),
        T.StructField("moving_s", T.LongType()),
        T.StructField("stopped_s", T.LongType()),
    ]
)

# Per-stream parallel arrays, already DEDUPED by timestamp (the
# reference's TreeSet semantics, TripAggregation.kt:17-19 / quirk Q4:
# the second insert at an equal timestamp is ignored ON INSERT). State
# is therefore bounded by the session's DISTINCT timestamps, not its
# raw event count — the retention bound of SURVEY.md §4.1 / hard-part 4.
STATE_SCHEMA = T.StructType(
    [
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


def _finalize(trip_id: int, st: tuple) -> pd.DataFrame:
    """A6-A9 over one session's state tuple (STATE_SCHEMA order; the
    buffers are ts-deduped on insert). Intended semantics — see
    operators.trip_agg for the quirk ledger, including why stopped time
    is the sum of deltas between consecutive stopped readings."""
    gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, _ = st
    gps = sorted(zip(gps_ts, gps_lat, gps_lon))
    dist = sum(
        haversine_km_scalar(la0, lo0, la1, lo1)
        for (_, la0, lo0), (_, la1, lo1) in zip(gps, gps[1:])
    )
    sp = sorted(zip(sp_ts, sp_kmh))
    stopped_us = sum(
        t1 - t0
        for (t0, v0), (t1, v1) in zip(sp, sp[1:])
        if v0 < STOPPED_SPEED_KMH and v1 < STOPPED_SPEED_KMH
    )
    all_ts = [*gps_ts, *sp_ts]
    total_s = (max(all_ts) // 1_000_000 - min(all_ts) // 1_000_000) if all_ts else 0
    stopped_s = stopped_us // 1_000_000
    row = (trip_id, vin, n_events, float(dist), total_s, total_s - stopped_s, stopped_s)
    return pd.DataFrame([row], columns=OUTPUT_SCHEMA.fieldNames())


def _fold(prev: tuple | None, pdfs: Iterator[pd.DataFrame]) -> tuple[tuple, int]:
    """Fold a batch of rows (``_sessionize``'s six columns) into the
    (possibly existing) session state. The vin is the first non-NULL
    ``start_vin``, i.e. the first TripStart's. Returns the updated state
    tuple plus the max event-time seen, in epoch ms (0 if the batch had
    no rows)."""
    *buffers, vin, n_events, deadline_ms = prev or ((), (), (), (), (), None, 0, 0)
    gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh = map(list, buffers)

    max_event_ms = 0
    # membership sets make the Q4 insert-dedup O(1) per event
    gps_known, sp_known = set(gps_ts), set(sp_ts)
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            n_events += 1
            if vin is None:
                vin = row.start_vin
            ts = int(row.ts.value // 1_000)  # pandas ns → us
            max_event_ms = max(max_event_ms, ts // 1_000)
            # pd.isna covers both None and NaN
            if not pd.isna(row.lat) and ts not in gps_known:
                gps_known.add(ts)
                gps_ts.append(ts)
                gps_lat.append(float(row.lat))
                gps_lon.append(float(row.lon))
            if not pd.isna(row.speed_kmh) and ts not in sp_known:
                sp_known.add(ts)
                sp_ts.append(ts)
                sp_kmh.append(int(row.speed_kmh))
    st = (gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms)
    return st, max_event_ms


def _processing_time_deadline(state: GroupState, deadline_ms: int, _: int) -> int:
    # ProcessingTimeTrigger re-arm rule (ProcessingTimeTrigger.kt:30-42): on
    # an element, if there is no deadline, or the existing deadline is closer
    # than now+min_retention, set it to now+max_retention; else keep it.
    now = state.getCurrentProcessingTimeMs()
    if deadline_ms == 0 or deadline_ms < now + MIN_RETENTION_MS:
        deadline_ms = now + MAX_RETENTION_MS
    state.setTimeoutDuration(max(int(deadline_ms - now), 1))
    return deadline_ms


def _event_time_deadline(state: GroupState, deadline_ms: int, max_event_ms: int) -> int:
    # event-time session gap: the deadline only ever moves FORWARD to
    # last-event-time + gap (late rows below the old deadline don't
    # shrink it); fires when the watermark passes it. The watermark moves
    # once per micro-batch, so a gap over MAX_RETENTION_MS inside one
    # batch does not split the session.
    deadline_ms = max(deadline_ms, max_event_ms + MAX_RETENTION_MS)
    state.setTimeoutTimestamp(deadline_ms)
    return deadline_ms


def _session_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    deadline_rule: Callable[[GroupState, int, int], int],
) -> Iterator[pd.DataFrame]:
    """``deadline_rule(state, deadline_ms or 0, max event ms of the batch)``
    arms the state's timeout and returns the new deadline_ms."""
    (trip_id,) = key
    if state.hasTimedOut:
        st = state.get
        state.remove()
        yield _finalize(trip_id, st)
        return

    st, max_event_ms = _fold(state.get if state.exists else None, pdfs)
    *buffers, deadline_ms = st
    state.update((*buffers, deadline_rule(state, deadline_ms, max_event_ms)))


def _sessionize(
    parsed_stream: DataFrame,
    watermark: str,
    deadline_rule: Callable[[GroupState, int, int], int],
    timeout: str,
) -> DataFrame:
    # Only the columns _fold reads cross into Python: the pandas UDF
    # converts every column of every group, and the vin is needed only
    # from TripStart rows. ``ts`` keeps the watermark EventTimeTimeout
    # needs, so the projection comes after withWatermark.
    return (
        parsed_stream.withWatermark("ts", watermark)
        .select(
            "trip_id",
            "ts",
            F.when(F.col("event_type") == "TripStartRelativeTime", F.col("vin"))
            .alias("start_vin"),
            "speed_kmh",
            "lat",
            "lon",
        )
        .groupBy("trip_id")
        .applyInPandasWithState(
            partial(_session_fn, deadline_rule=deadline_rule),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            timeout,
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
    return _sessionize(
        parsed_stream,
        watermark,
        _processing_time_deadline,
        GroupStateTimeout.ProcessingTimeTimeout,
    )


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
    return _sessionize(
        parsed_stream,
        watermark,
        _event_time_deadline,
        GroupStateTimeout.EventTimeTimeout,
    )
