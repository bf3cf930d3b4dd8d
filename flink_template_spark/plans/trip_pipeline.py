"""The reference's flagship workload as a driver-visible query: trip-event
JSON lines → parse layer (JSONUtil.kt:127-168) → per-trip aggregation
(TripAggregatorApplication.kt:58-164, A1-A9).

Oracle: fully self-contained DuckDB replay. The 20-line wire-format
fixture is embedded in the SQL as a VALUES list (same generator,
sources.trip_fixtures.fixture_lines — deterministic), and the oracle
re-implements the full chain with DuckDB JSON functions: malformed-JSON
drop, type-discriminator drop, enum validation (vehicleProtocol /
hemisphere / fixQuality), unknown-pid tolerance, the Q4 equal-ts dedup
(keep first by ingest order), haversine path distance, run-length
stopped time, and union-span total/moving duration. Equality is
therefore an end-to-end hash check of the reference's ACTUAL
computation, not just of the analytics layer (which plans.telemetry
already oracle-checks over the events table).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_template_spark.functions.geo import haversine_km_sql
from flink_template_spark.operators.trip_agg import STOPPED_SPEED_KMH, aggregate_trips
from flink_template_spark.parse import (
    EVENT_TYPES,
    FIX_QUALITIES,
    HEMISPHERES,
    VEHICLE_PROTOCOLS,
    read_trip_events_json,
)
from flink_template_spark.plans.registry import register
from flink_template_spark.sources.trip_fixtures import fixture_lines, write_fixture


def _fixture_path() -> str:
    """Idempotently materialize the 20-line wire-format fixture.

    Known impurity: the first call of either query writes this file into
    the driver's tempdir (all later calls only stat it). Deliberate —
    the fixture is the QUERY INPUT (the engine's own wire format, not a
    testdata table), and shipping a data file inside the package or
    writing at import time would be worse; a tiny smoke entry may
    lazily create its own input."""
    d = os.path.join(tempfile.gettempdir(), "flink_template_spark_fixture")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, "trip_events.jsonl")
    if not os.path.exists(p):
        write_fixture(p)
    return p


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _fixture_values_sql() -> str:
    return ",\n    ".join(
        f"({i}, {_sql_quote(line)})" for i, line in enumerate(fixture_lines())
    )


def _in_list(values: list[str]) -> str:
    return ", ".join(f"'{v}'" for v in values)


# DuckDB replay of parse.parse_trip_events + operators.trip_agg
# (same structure as the telemetry oracles, but over raw JSON lines).
# Ordering/dedup key is epoch-microseconds (exact ts equality); duration
# arithmetic floors to whole seconds exactly like Spark's unix_timestamp.
_TRIP_PIPELINE_ORACLE = f"""
WITH raw(seq, line) AS (VALUES
    {_fixture_values_sql()}
),
-- TRY_CAST to JSON first: malformed lines become NULL (json_extract on a
-- raw malformed string raises even behind a json_valid filter, because
-- DuckDB may inline the projection past it)
jsonified AS (SELECT seq, TRY_CAST(line AS JSON) AS j FROM raw),
parsed AS (
  SELECT seq,
    CAST(TRY_CAST(json_extract(j, '$.body.tripNumber') AS DOUBLE) AS BIGINT)
      AS trip_id,
    TRY_CAST(json_extract_string(j, '$.body.timestamp') AS TIMESTAMPTZ)
      AS tstz,
    json_extract_string(j, '$.body.type') AS event_type,
    json_extract_string(j, '$.body.vehicleProtocol') AS vp,
    json_extract_string(j, '$.body.vin') AS vin,
    TRY_CAST(json_extract(j, '$.body.pidData.VehicleSpeed') AS DOUBLE)
      AS speed_d,
    TRY_CAST(json_extract(j, '$.body.pidData.GpsReading.latitude') AS DOUBLE)
      AS lat,
    TRY_CAST(json_extract(j, '$.body.pidData.GpsReading.longitude') AS DOUBLE)
      AS lon,
    json_extract_string(j, '$.body.pidData.GpsReading.hemisphere') AS hemi,
    json_extract_string(j, '$.body.pidData.GpsReading.fixQuality') AS fixq,
    (json_extract(j, '$.body.pidData.GpsReading') IS NOT NULL) AS has_gps
  FROM jsonified WHERE j IS NOT NULL
),
valid AS (
  SELECT seq, trip_id, event_type, vin,
    epoch_us(tstz) AS eus,
    CAST(speed_d AS INT) AS speed,
    lat, lon
  FROM parsed
  WHERE trip_id IS NOT NULL AND tstz IS NOT NULL
    AND event_type IN ({_in_list(EVENT_TYPES)})
    AND (vp IS NULL OR vp IN ({_in_list(VEHICLE_PROTOCOLS)}))
    AND (NOT has_gps OR (hemi IN ({_in_list(HEMISPHERES)})
                         AND fixq IN ({_in_list(FIX_QUALITIES)})))
),
gps AS (SELECT trip_id, eus, seq, lat, lon FROM valid WHERE lat IS NOT NULL),
gps1 AS (
  SELECT * FROM (
    SELECT *, LAG(eus) OVER (PARTITION BY trip_id ORDER BY eus, seq) AS peus
    FROM gps
  ) WHERE peus IS NULL OR peus <> eus
),
hops AS (
  SELECT trip_id, eus,
    CASE WHEN LAG(lat) OVER w IS NULL THEN 0.0
      ELSE {haversine_km_sql('LAG(lat) OVER w', 'LAG(lon) OVER w', 'lat', 'lon')}
    END AS hop_km
  FROM gps1
  WINDOW w AS (PARTITION BY trip_id ORDER BY eus, seq)
),
dist AS (
  SELECT trip_id, ROUND(SUM(hop_km), 6) AS distance_km,
    MIN(eus) AS gmin, MAX(eus) AS gmax
  FROM hops GROUP BY trip_id
),
sp AS (SELECT trip_id, eus, seq, speed FROM valid WHERE speed IS NOT NULL),
sp1 AS (
  SELECT trip_id, eus, seq, (speed < {STOPPED_SPEED_KMH}) AS is_stopped
  FROM (
    SELECT *, LAG(eus) OVER (PARTITION BY trip_id ORDER BY eus, seq) AS peus
    FROM sp
  ) WHERE peus IS NULL OR peus <> eus
),
deltas AS (
  SELECT trip_id, eus,
    CASE WHEN is_stopped AND COALESCE(LAG(is_stopped) OVER w, FALSE)
      THEN eus // 1000000 - (LAG(eus) OVER w) // 1000000
      ELSE 0 END AS stopped_delta_s
  FROM sp1
  WINDOW w AS (PARTITION BY trip_id ORDER BY eus, seq)
),
spagg AS (
  SELECT trip_id, CAST(SUM(stopped_delta_s) AS BIGINT) AS stopped_s,
    MIN(eus) AS smin, MAX(eus) AS smax
  FROM deltas GROUP BY trip_id
),
base AS (
  SELECT trip_id,
    arg_min(vin, CASE WHEN event_type = 'TripStartRelativeTime' THEN seq END)
      AS vehicle_id,
    COUNT(*) AS n_events
  FROM valid GROUP BY trip_id
),
tot AS (
  SELECT b.trip_id, b.vehicle_id, b.n_events,
    COALESCE(d.distance_km, 0.0) AS distance_km,
    (GREATEST(COALESCE(d.gmax, s.smax), COALESCE(s.smax, d.gmax)) // 1000000
     - LEAST(COALESCE(d.gmin, s.smin), COALESCE(s.smin, d.gmin)) // 1000000)
      AS span_s,
    COALESCE(s.stopped_s, 0) AS stopped_s
  FROM base b
  LEFT JOIN dist d USING (trip_id)
  LEFT JOIN spagg s USING (trip_id)
)
SELECT trip_id, vehicle_id, n_events, distance_km,
  CAST(COALESCE(span_s, 0) AS BIGINT) AS total_s,
  CAST(stopped_s AS BIGINT) AS stopped_s,
  CAST(COALESCE(span_s, 0) - stopped_s AS BIGINT) AS moving_s
FROM tot
ORDER BY trip_id
"""


def _rounded(df: DataFrame) -> DataFrame:
    """Round the float path-distance for the hash comparison (double
    summation order may differ across engines in the last ulp — the
    telemetry oracles round the same way)."""
    return df.withColumn("distance_km", F.round("distance_km", 6))


@register("q_trip_pipeline_json", oracle=_TRIP_PIPELINE_ORACLE)
def q_trip_pipeline_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = read_trip_events_json(spark, _fixture_path())
    return _rounded(aggregate_trips(parsed)).orderBy("trip_id")


@register("q_trip_pipeline_datasource", oracle=_TRIP_PIPELINE_ORACLE)
def q_trip_pipeline_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same flagship pipeline fed by the custom ``tripjson`` Python Data
    Source (sources/trip_datasource.py) instead of the text reader —
    proves the Kafka-shaped source contract end-to-end; parity between
    the two input paths is additionally pinned by
    tests/test_trip_datasource.py."""
    from flink_template_spark.sources.trip_datasource import (
        read_trip_events_datasource,
    )

    parsed = read_trip_events_datasource(spark, _fixture_path(), num_partitions=4)
    return _rounded(aggregate_trips(parsed)).orderBy("trip_id")
