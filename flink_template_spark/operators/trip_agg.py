"""Batch per-trip aggregation — the reference's analytical payload
(AggregateFunction at TripAggregatorApplication.kt:58-164, A1-A9 in
SURVEY.md §2.4) as pure DataFrame expressions.

Semantics implemented (intended semantics; reference bugs documented):

- A2/A3: GPS and speed readings collected per trip, ordered by event ts;
  vehicle id from TripStart's vin.
- Q4 (TreeSet ts-dedup, TripAggregation.kt:8-13): events with equal
  timestamps collapse — we keep the first by ingest order (``seq``).
- A6 distance: haversine over consecutive ts-ordered GPS points.
  Reference bugs NOT reproduced: Q6 (lat/lon swap inside haversine) and
  Q3 (km stored in a field named meters) — we compute standard
  haversine and name the column ``distance_km``. A hop with a NULL
  endpoint (a reading without longitude) counts 0.
- A7 stopped time: maximal runs of speed < 5 km/h
  (TripAggregatorApplication.kt:132); per-run duration max(ts)-min(ts)
  summed, each reading's ts floored to epoch seconds first (Q5). Q7
  (negative deltas) not reproduced — durations are positive.
- A8 total duration: max−min epoch-second over the union of GPS and
  speed timestamps (TripAggregatorApplication.kt:108-118,142-145);
  reference uses epoch *seconds* (Q5) — we keep second granularity.
- A9 moving = total − stopped.
- Q1: TripEnd / TripEvent rows contribute nothing.

Scale: one ``groupBy(trip_id)``, so the plan has ONE exchange and no
window, join or cache. Each trip's GPS and speed readings become one
sorted array row at the group, a per-trip bound like the stream's
state entry (streaming.trip_sessions); the dedup, hops and stopped
deltas are array expressions over that row. Stopped time sums the
deltas between consecutive readings that are both stopped: a maximal
stopped run's max(ts)−min(ts) equals its deltas' sum, so no run ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_template_spark.functions.geo import haversine_km

STOPPED_SPEED_KMH = 5

# One trip row, for both tiers (streaming.trip_sessions emits it too).
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


def _readings(*fields: str, present: str) -> F.Column:
    """A trip's readings with ``present`` set, as (ts, seq, *fields)
    structs in (ts, seq) order."""
    return F.array_sort(
        F.collect_list(
            F.when(F.col(present).isNotNull(), F.struct("ts", "seq", *fields))
        )
    )


def _first_per_ts(name: str) -> F.Column:
    """Q4 over sorted readings: an element survives iff the previous
    element's ts differs, i.e. the first arrival of each ts. A projection
    of its own, so the sort is not inlined into the lambda twice."""
    rs = F.col(name)
    return F.filter(
        rs, lambda r, i: (i == 0) | (F.get(rs, i - 1)["ts"] != r["ts"])
    ).alias(name)


def _pairs_sum(rs: F.Column, f, zero: F.Column) -> F.Column:
    """Σ f(prev, next) over adjacent elements of ``rs``. zip_with pads the
    shifted array's tail with NULL, so the last pair's ``next`` is NULL;
    ``f`` must map a NULL operand to ``zero``."""
    return F.aggregate(
        F.zip_with(rs, F.slice(rs, 2, F.size(rs)), f), zero, lambda acc, x: acc + x
    )


def aggregate_trips(parsed: DataFrame) -> DataFrame:
    """Parsed trip events → one OUTPUT_SCHEMA row per trip, from one
    ``groupBy(trip_id)`` fold."""
    # ingest-order tiebreak for the Q4 equal-ts dedup. Deterministic per
    # input split ordering (like the reference's arrival order). Prefer
    # the parse layer's ingest_seq: referencing it keeps parse's
    # optimizer barrier alive (parse.py — dropping it would let the
    # pushed validity filter re-parse the JSON per condition).
    if "ingest_seq" in parsed.columns:
        seq = F.col("ingest_seq")
    else:
        seq = F.monotonically_increasing_id()
    ev = parsed.select(
        "trip_id", "ts", "event_type", "vin", "speed_kmh", "lat", "lon", seq.alias("seq")
    )

    per_trip = ev.groupBy("trip_id").agg(
        F.min_by(
            "vin", F.when(F.col("event_type") == "TripStartRelativeTime", F.col("seq"))
        ).alias("vehicle_id"),
        F.count(F.lit(1)).alias("n_events"),
        _readings("lat", "lon", present="lat").alias("gps"),
        _readings("speed_kmh", present="speed_kmh").alias("sp"),
    ).select(
        "trip_id", "vehicle_id", "n_events", _first_per_ts("gps"), _first_per_ts("sp")
    )

    # A6: a hop with a NULL endpoint counts 0, as a SQL sum skips it
    dist = _pairs_sum(
        F.col("gps"),
        lambda a, b: F.coalesce(
            haversine_km(a["lat"], a["lon"], b["lat"], b["lon"]), F.lit(0.0)
        ),
        F.lit(0.0),
    )
    # A7 with Q5: each stopped delta between epoch-second floors
    stopped = _pairs_sum(
        F.col("sp"),
        lambda a, b: F.when(
            (a["speed_kmh"] < STOPPED_SPEED_KMH) & (b["speed_kmh"] < STOPPED_SPEED_KMH),
            F.unix_timestamp(b["ts"]) - F.unix_timestamp(a["ts"]),
        ).otherwise(0),
        F.lit(0).cast("long"),
    )
    # A8: span over the union of both arrays' timestamps
    span = F.coalesce(
        F.unix_timestamp(
            F.greatest(F.array_max("gps")["ts"], F.array_max("sp")["ts"])
        )
        - F.unix_timestamp(
            F.least(F.array_min("gps")["ts"], F.array_min("sp")["ts"])
        ),
        F.lit(0),
    )
    # moving_s in a second projection, so the stopped fold runs once
    out = (
        per_trip.select(
            "trip_id",
            "vehicle_id",
            "n_events",
            dist.alias("distance_km"),
            span.alias("total_s"),
            stopped.alias("stopped_s"),
        )
        .withColumn("moving_s", F.col("total_s") - F.col("stopped_s"))
        .select(*OUTPUT_SCHEMA.fieldNames())
    )
    # kept only for perfbench's ``agg.input.unpersist``; nothing is persisted
    out.input = ev
    return out
