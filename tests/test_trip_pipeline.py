"""Parse layer + batch trip aggregation golden tests (SURVEY.md §5.2/5.3).

Expected values computed by an independent pure-Python model of the
intended semantics (standard haversine, positive stopped runs,
second-granularity durations).
"""

from __future__ import annotations

import math

import pytest

from flink_template_spark.parse import read_trip_events_json
from flink_template_spark.operators.trip_agg import OUTPUT_SCHEMA, aggregate_trips
from flink_template_spark.sources.trip_fixtures import (
    TRIP1_POINTS,
    TRIP2_POINTS,
    write_fixture,
)


def _haversine_km(lat1, lon1, lat2, lon2):
    r = 6371.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1)
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


@pytest.fixture(scope="module")
def parsed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("trips") / "events.jsonl")
    write_fixture(path)
    return read_trip_events_json(spark, path).cache()


def test_parse_drops_invalid_rows(parsed):
    rows = parsed.collect()
    # malformed JSON, unknown type, invalid hemisphere, invalid protocol: dropped
    assert all(r.trip_id in (1, 2, 3) for r in rows)
    assert not any(r.event_type == "Bogus" for r in rows)
    # trip 3's TripStart had an invalid protocol → only its TripData kept
    t3 = [r for r in rows if r.trip_id == 3]
    assert len(t3) == 1 and t3[0].event_type == "TripData"
    # unknown pid key ignored but row kept (trip 1 @ s=55)
    t1_55 = [r for r in rows if r.trip_id == 1 and r.ts.second == 55]
    assert len(t1_55) == 1 and t1_55[0].speed_kmh == 40


def test_parse_extracts_typed_pids(parsed):
    r = [x for x in parsed.collect() if x.trip_id == 1 and x.event_type == "TripData"]
    gps = [x for x in r if x.lat is not None]
    assert all(isinstance(x.speed_kmh, int) for x in r if x.speed_kmh is not None)
    assert all(abs(x.lat) < 90 for x in gps)


def test_trip_aggregation_golden(parsed):
    out = {r.trip_id: r for r in aggregate_trips(parsed).collect()}

    # --- trip 1 expectations ---
    # GPS path: fixture points ordered by ts, plus the out-of-order point
    # at s=12; the duplicate-ts record at s=10 (80.0, 80.0) must be
    # ignored (quirk Q4 dedup keeps the first-arrived record).
    pts = sorted(
        [(s, lat, lon) for s, lat, lon, _ in TRIP1_POINTS] + [(12, 19.415, -99.115)]
    )
    exp_dist = sum(
        _haversine_km(pts[i - 1][1], pts[i - 1][2], pts[i][1], pts[i][2])
        for i in range(1, len(pts))
    )
    t1 = out[1]
    assert t1.vehicle_id == "VIN00001"
    assert abs(t1.distance_km - exp_dist) < 1e-9
    # speed ts span: 0..55 (s=55 speed-only record); gps span 0..50
    assert t1.total_s == 55
    assert t1.stopped_s == 20  # run 20..40 s below 5 km/h
    assert t1.moving_s == 35

    # --- trip 2 ---
    pts2 = [(s, lat, lon) for s, lat, lon, _ in TRIP2_POINTS]
    exp_dist2 = sum(
        _haversine_km(pts2[i - 1][1], pts2[i - 1][2], pts2[i][1], pts2[i][2])
        for i in range(1, len(pts2))
    )
    t2 = out[2]
    assert t2.vehicle_id == "VIN00002"
    assert abs(t2.distance_km - exp_dist2) < 1e-9
    assert t2.total_s == 30  # 5..35
    assert t2.stopped_s == 10  # 5..15
    assert t2.moving_s == 20

    # --- trip 3: no valid TripStart → null vin; single speed record ---
    t3 = out[3]
    assert t3.vehicle_id is None
    assert t3.distance_km == 0.0
    assert t3.total_s == 0 and t3.stopped_s == 0


def test_tripend_ignored(parsed):
    # TripEnd rows exist post-parse but contribute nothing (quirk Q1):
    ends = parsed.filter("event_type = 'TripEnd'").collect()
    assert len(ends) == 2
    out = {r.trip_id: r for r in aggregate_trips(parsed).collect()}
    # trip 1 span would be 60 if TripEnd counted; it must stay 55.
    assert out[1].total_s == 55


def test_haversine_bug_compat_parity(spark):
    """Quirk Q6 ledger (SURVEY.md §2.4): the reference swaps lat/lon
    roles inside haversine. Both implementations are exposed; the
    engine default is the correct one, the bug-compat twin reproduces
    the reference's numbers exactly (its verification pair)."""
    from pyspark.sql import functions as F

    from flink_template_spark.functions.geo import (
        haversine_km,
        haversine_km_bug_compat,
    )

    df = spark.createDataFrame(
        [(19.40, -99.10, 19.41, -99.11)], "lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE"
    )
    row = df.select(
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("std"),
        haversine_km_bug_compat(
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
        ).alias("bug"),
    ).first()
    assert abs(row.std - 1.5285215116866908) < 1e-9
    assert abs(row.bug - 1.1257854719433387) < 1e-9


def test_aggregate_trips_empty_input(spark):
    """Operators must survive empty inputs (first micro-batch of a
    stream, empty partition of a lake)."""
    from flink_template_spark.parse import parse_trip_events

    empty = spark.createDataFrame([], "value STRING")
    out = aggregate_trips(parse_trip_events(empty))
    assert out.count() == 0
    # the one trip row of both tiers: names, order and types
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in OUTPUT_SCHEMA
    ]


def test_aggregate_trips_is_one_fold(spark, tmp_path):
    """The batch fold is one ``groupBy(trip_id)``: one exchange, no
    window, join or cache, and a collect leaves nothing cached for a
    later plan over the same input to read."""
    import re

    p = tmp_path / "e.jsonl"
    write_fixture(str(p))
    out = aggregate_trips(read_trip_events_json(spark, str(p)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    for node in ("Window", "Join", "InMemoryRelation", "InMemoryTableScan"):
        assert node not in plan, plan
    out.collect()
    again = aggregate_trips(read_trip_events_json(spark, str(p)))
    assert "InMemory" not in again._jdf.queryExecution().optimizedPlan().toString()


def test_parse_evaluates_from_json_once(spark, tmp_path):
    """JsonToStructs is codegen-fallback (no CSE): the staged projection
    must leave exactly ONE from_json in the optimized parse plan —
    naive per-column extraction re-parses the JSON ~17× per row
    (measured 3.5× slower end-to-end)."""
    from flink_template_spark.parse import read_trip_events_json
    from flink_template_spark.sources.trip_fixtures import write_fixture

    p = tmp_path / "e.jsonl"
    write_fixture(str(p))
    parsed = read_trip_events_json(spark, str(p))
    plan = parsed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 1, f"{plan.count('from_json')} from_json calls"

    # a consumer that drops ``ingest_seq`` must not prune the barrier away
    narrowed = parsed.select("trip_id", "ts", "speed_kmh")
    plan = narrowed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 1, f"narrowed: {plan.count('from_json')}"

    # nor the sessionizer's six-column projection; a streaming plan is
    # optimized only on start(), so run the optimizer on the analyzed plan
    from flink_template_spark.parse import read_trip_events_stream
    from flink_template_spark.streaming.trip_sessions import (
        sessionize_trips_event_time,
    )

    qe = sessionize_trips_event_time(
        read_trip_events_stream(spark, str(tmp_path))
    )._jdf.queryExecution()
    plan = spark._jsparkSession.sessionState().optimizer().execute(qe.analyzed())
    # "(": the source path printed in the plan holds this test's name
    n = plan.toString().count("from_json(")
    assert n == 1, f"sessionized stream: {n} from_json calls"


def test_event_data_surface_opt_in(spark):
    """Quirk Q1: the reference declares TripEvent/EventData (Trip.kt:24-28,
    EventData.kt:16-77) but its parser has no "TripEvent" case
    (JSONUtil.kt:136-162) — default parse drops such records; the opt-in
    extended schema models and carries them."""
    import json

    from flink_template_spark.parse import parse_trip_events

    trip_event = {
        "body": {
            "tripNumber": 9,
            "timestamp": "2016-01-01T12:00:00-05:00",
            "type": "TripEvent",
            "eventData": {
                "accelerometer": {
                    "secondsRelativeToTriggerInSeconds": 2,
                    "data": {
                        "type": "Triggered",
                        "triggeredAxis": "PositiveXAxis",
                        "samples": [{"x": 0.1, "y": 0.2, "z": 9.8}],
                    },
                },
                # TripGpsEvent wraps its payload in a `data` field
                # (EventData.kt:77), mirrored by the schema
                "gps": {
                    "data": {
                        "heading": 90,
                        "horizontalDilutionOfPrecision": 1,
                        "latitude": 19.4,
                        "longitude": -99.1,
                        "numberOfSatellites": 7,
                        "gpsRegion": "NorthWest",
                        "gpsFixQuality": "Standard",
                    }
                },
                # FenceEvent.data is the TimeFence|GeoFence union,
                # discriminated by `type` (EventData.kt:27-45)
                "fence": {
                    "data": {
                        "type": "End",
                        "tripId": 9,
                        "distanceTraveled": 12.5,
                        "durationInMinutes": 30,
                    }
                },
            },
        }
    }
    raw = spark.createDataFrame([(json.dumps(trip_event),)], "value STRING")

    # default path: reference-parser parity — record dropped
    assert parse_trip_events(raw).count() == 0

    # opt-in path: record kept with typed event_data struct
    rows = parse_trip_events(raw, include_event_data=True).collect()
    assert len(rows) == 1
    ed = rows[0].event_data
    assert ed.accelerometer.secondsRelativeToTriggerInSeconds == 2  # Int, not Double
    assert ed.accelerometer.data.triggeredAxis == "PositiveXAxis"
    assert ed.accelerometer.data.samples[0].z == 9.8
    assert ed.gps.data.gpsRegion == "NorthWest"
    assert ed.gps.data.numberOfSatellites == 7  # Kotlin Int width
    assert ed.fence.data.type == "End"  # time-fence variant of the union
    assert ed.fence.data.durationInMinutes == 30
    assert ed.fence.data.geoFenceId is None  # geo-fence fields unpopulated
