"""Trip-event JSON parse layer — the declarative rebuild of the
reference's parser (JSONUtil.kt:127-168 ``toTrip`` +
JSONUtil.kt:25-125 ``toParameterIdsData``).

Where the reference parses each record imperatively (Gson → untyped Map →
discriminator dispatch → typed event, exceptions → null → filtered), we
declare one unified event schema and let ``from_json`` + Column
expressions do everything JVM-side:

- malformed JSON            → from_json yields null struct → row dropped
  (JSONUtil.kt:164-167 catch-all);
- unknown ``body.type``     → row dropped (JSONUtil.kt:159-161 throw);
- malformed/missing ts      → try_to_timestamp null → row dropped;
- invalid enum values       → row dropped (valueOf throws → record null,
  VehicleProtocol.kt:12-16, EventData.kt:50-64) — enforced with
  ``isin`` membership checks;
- unknown pidData keys      → silently absent from the typed schema
  (JSONUtil.kt:116-118 drop) — from_json ignores fields not in schema.

JSON numbers arrive as doubles and are downcast where the reference does
(``(value as Double).toInt()``, JSONUtil.kt:29-67).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VEHICLE_PROTOCOLS = [
    "VPW1", "PWM", "ISO9141", "ISO14230", "ISO14230FastInit",
    "CAN11Bit", "CAN29Bit",
]
HEMISPHERES = ["NorthWest", "NorthEast", "SouthWest", "SouthEast"]
FIX_QUALITIES = ["NoFix", "Standard", "Differential"]
EVENT_TYPES = ["TripStartRelativeTime", "TripData", "TripEnd"]

_point = T.StructType(
    [
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
    ]
)

PID_DATA_SCHEMA = T.StructType(
    [
        T.StructField("EngineCoolantTemp", T.DoubleType()),
        T.StructField("EngineRpm", T.DoubleType()),
        T.StructField(
            "MilStatus",
            T.StructType(
                [
                    T.StructField("commandedOn", T.BooleanType()),
                    T.StructField("numCodes", T.DoubleType()),
                ]
            ),
        ),
        T.StructField("FreezeFrameTroubleCode", T.StringType()),
        T.StructField(
            "FuelStatus",
            T.StructType(
                [
                    T.StructField("closedLoopO2SensorFault", T.BooleanType()),
                    T.StructField("closedLoopO2SensorFuelControl", T.BooleanType()),
                    T.StructField("openLoopDrivingConditions", T.BooleanType()),
                    T.StructField("openLoopNotYetSatisfied", T.BooleanType()),
                ]
            ),
        ),
        T.StructField("CalcEngineLoad", T.DoubleType()),
        T.StructField("FuelPressure", T.DoubleType()),
        T.StructField("IntakeManifoldAbsPressure", T.DoubleType()),
        T.StructField("VehicleSpeed", T.DoubleType()),
        T.StructField("TimingAdvance", T.DoubleType()),
        T.StructField("IntakeAirTemp", T.DoubleType()),
        T.StructField("MafAirFlowRate", T.DoubleType()),
        T.StructField("ThrottlePosition", T.DoubleType()),
        T.StructField(
            "CommandedSecondaryAirStatus",
            T.StructType(
                [
                    T.StructField("pumpCommandedOnForDiagnostics", T.BooleanType()),
                    T.StructField("downstreamOfFirstCatalyticConverter", T.BooleanType()),
                    T.StructField("fromOutsideAtmosphereOrOff", T.BooleanType()),
                    T.StructField("upstreamOfFirstCatalyticConverter", T.BooleanType()),
                ]
            ),
        ),
        T.StructField(
            "RawAccelerometer",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("offsets", T.ArrayType(_point)),
                        T.StructField("base", _point),
                    ]
                )
            ),
        ),
        T.StructField(
            "GpsReading",
            T.StructType(
                [
                    T.StructField("heading", T.DoubleType()),
                    T.StructField("horizontalDilutionOfPrecision", T.DoubleType()),
                    T.StructField("latitude", T.DoubleType()),
                    T.StructField("longitude", T.DoubleType()),
                    T.StructField("numberOfSatellites", T.DoubleType()),
                    T.StructField("hemisphere", T.StringType()),
                    T.StructField("fixQuality", T.StringType()),
                ]
            ),
        ),
    ]
)

BODY_SCHEMA = T.StructType(
    [
        T.StructField("tripNumber", T.DoubleType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("odometer", T.DoubleType()),
        T.StructField("vehicleProtocol", T.StringType()),
        T.StructField("vin", T.StringType()),
        T.StructField("fuelConsumed", T.DoubleType()),
        T.StructField("pidData", PID_DATA_SCHEMA),
    ]
)

TRIP_ENVELOPE_SCHEMA = T.StructType([T.StructField("body", BODY_SCHEMA)])

# --- Declared-but-never-parsed TripEvent surface (quirk Q1) -------------
# Trip.kt:24-28 declares TripEvent(id, timestamp, eventData) and
# EventData.kt:16-77 its variants (AccelerometerEvent, FenceEvent,
# TripGpsEvent), but the reference parser's discriminator
# (JSONUtil.kt:136-162) has no "TripEvent" case — any such record throws
# and is filtered to null. The DEFAULT parse path mirrors that exactly:
# EVENT_TYPES membership drops the row. For pipelines that do carry these
# payloads, EVENT_DATA_SCHEMA models the declared Kotlin types
# field-for-field — the same ``data`` wrapper nesting (FenceEvent.data,
# TripGpsEvent.data) and the same integer widths (Kotlin Int →
# IntegerType) — and ``parse_trip_events(..., include_event_data=True)``
# accepts type "TripEvent" and carries an ``event_data`` column through.
# The one deliberate deviation: FenceEventData is an abstract union of
# TimeFenceEventData | GeoFenceEventData (EventData.kt:27-45); Spark
# structs can't express a sealed hierarchy, so ``fence.data`` holds the
# union of both variants' fields and the ``type`` value discriminates
# (Start/End → time-fence fields populated, Entry/Exit → geoFenceId).
EVENT_DATA_SCHEMA = T.StructType(
    [
        T.StructField(
            "accelerometer",  # AccelerometerEvent (EventData.kt:22-25)
            T.StructType(
                [
                    # Kotlin Int (EventData.kt:23)
                    T.StructField("secondsRelativeToTriggerInSeconds", T.IntegerType()),
                    T.StructField(
                        "data",  # AccelerometerData (EventData.kt:16-20)
                        T.StructType(
                            [
                                T.StructField("type", T.StringType()),
                                T.StructField("triggeredAxis", T.StringType()),
                                T.StructField("samples", T.ArrayType(_point)),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "fence",  # FenceEvent(data: FenceEventData) (EventData.kt:45)
            T.StructType(
                [
                    T.StructField(
                        "data",  # TimeFenceEventData | GeoFenceEventData union
                        T.StructType(
                            [
                                # discriminator: Start/End (time fence,
                                # EventData.kt:29) or Entry/Exit (geo
                                # fence, EventData.kt:38)
                                T.StructField("type", T.StringType()),
                                T.StructField("tripId", T.IntegerType()),
                                T.StructField("distanceTraveled", T.DoubleType()),
                                T.StructField("durationInMinutes", T.IntegerType()),
                                T.StructField("geoFenceId", T.IntegerType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "gps",  # TripGpsEvent(data: GpsEventData) (EventData.kt:77)
            T.StructType(
                [
                    T.StructField(
                        "data",  # GpsEventData (EventData.kt:67-75)
                        T.StructType(
                            [
                                T.StructField("heading", T.IntegerType()),
                                T.StructField(
                                    "horizontalDilutionOfPrecision", T.IntegerType()
                                ),
                                T.StructField("latitude", T.DoubleType()),
                                T.StructField("longitude", T.DoubleType()),
                                T.StructField("numberOfSatellites", T.IntegerType()),
                                T.StructField("gpsRegion", T.StringType()),
                                T.StructField("gpsFixQuality", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)

EXTENDED_BODY_SCHEMA = T.StructType(
    BODY_SCHEMA.fields + [T.StructField("eventData", EVENT_DATA_SCHEMA)]
)
EXTENDED_ENVELOPE_SCHEMA = T.StructType(
    [T.StructField("body", EXTENDED_BODY_SCHEMA)]
)


def parse_trip_events(
    raw: DataFrame, json_col: str = "value", include_event_data: bool = False
) -> DataFrame:
    """Raw JSON-line strings → typed, validated trip-event rows.

    Output columns: trip_id long, ts timestamp, event_type string,
    odometer long, vehicle_protocol string, vin string, fuel_consumed
    double, pid (full PID struct), plus convenience extracts
    speed_kmh int, lat/lon double. With ``include_event_data`` the
    declared-only TripEvent surface is accepted too and an
    ``event_data`` struct column is appended (see EVENT_DATA_SCHEMA).

    Invalid rows are dropped, mirroring the reference's
    parse-catch-null-filter chain (JSONUtil.kt:164-167,
    TripAggregatorApplication.kt:194-203).
    """
    # Stage 1 materializes the parsed struct ONCE. JsonToStructs is a
    # codegen-fallback expression, so it gets no common-subexpression
    # elimination: referencing from_json(...) from every output column
    # of a single Project re-parses the JSON per column (~17× per row
    # across projection + validity filter — measured 8× slower end to
    # end). Catalyst keeps the stage boundary (CollapseProject declines
    # to inline the expensive alias), leaving exactly one from_json in
    # the optimized plan — pinned by tests/test_trip_pipeline.py.
    # ``ingest_seq`` (arrival order, the reference's implicit stream
    # order — the Q4 equal-ts dedup tiebreak downstream) doubles as the
    # optimizer barrier: a non-deterministic expression in this Project
    # stops predicate pushdown from re-inlining from_json into every
    # validity-filter condition (which is what happens to a
    # deterministic-only stage — the pushed filter re-parses the JSON
    # per condition). Streams can't use monotonically_increasing_id, so
    # they carry a rand-based barrier instead; its VALUES are never
    # meaningful across sources — only the batch ordering semantics are
    # relied on (operators.trip_agg). The validity filter references
    # ``ingest_seq`` so that ColumnPruning cannot drop it (and with it the
    # barrier) when a consumer selects fewer columns: ``>= 0`` holds for
    # both barriers and the optimizer cannot fold it, while ``isNotNull``
    # would be folded away on this non-nullable column.
    seq_col = (
        F.rand(42) if raw.isStreaming else F.monotonically_increasing_id()
    )
    envelope_schema = (
        EXTENDED_ENVELOPE_SCHEMA if include_event_data else TRIP_ENVELOPE_SCHEMA
    )
    accepted_types = (
        EVENT_TYPES + ["TripEvent"] if include_event_data else EVENT_TYPES
    )
    env = raw.select(
        F.from_json(F.col(json_col), envelope_schema)
        .getField("body")
        .alias("__b"),
        seq_col.alias("ingest_seq"),
    )
    b = F.col("__b")
    parsed_cols = [
        b.getField("tripNumber").cast("long").alias("trip_id"),
        F.try_to_timestamp(b.getField("timestamp")).alias("ts"),
        b.getField("type").alias("event_type"),
        b.getField("odometer").cast("long").alias("odometer"),
        b.getField("vehicleProtocol").alias("vehicle_protocol"),
        b.getField("vin").alias("vin"),
        b.getField("fuelConsumed").alias("fuel_consumed"),
        b.getField("pidData").alias("pid"),
    ]
    if include_event_data:
        parsed_cols.append(b.getField("eventData").alias("event_data"))
    parsed = env.select(*parsed_cols, F.col("ingest_seq"))

    valid = (
        (F.col("ingest_seq") >= 0)
        & F.col("trip_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isin(accepted_types)
        # enum validation: invalid enum string ⇒ whole record dropped
        & (
            F.col("vehicle_protocol").isNull()
            | F.col("vehicle_protocol").isin(VEHICLE_PROTOCOLS)
        )
        & (
            F.col("pid.GpsReading").isNull()
            | (
                F.col("pid.GpsReading.hemisphere").isin(HEMISPHERES)
                & F.col("pid.GpsReading.fixQuality").isin(FIX_QUALITIES)
            )
        )
    )

    return parsed.filter(valid).select(
        "*",
        F.col("pid.VehicleSpeed").cast("int").alias("speed_kmh"),
        F.col("pid.GpsReading.latitude").alias("lat"),
        F.col("pid.GpsReading.longitude").alias("lon"),
    )


def read_trip_events_json(spark, path: str) -> DataFrame:
    """Batch file source: JSON lines → parsed trip events (reference's
    Kafka source S1 swapped for files; same downstream plan)."""
    raw = spark.read.text(path)
    return parse_trip_events(raw)


def read_trip_events_stream(spark, path: str) -> DataFrame:
    """Streaming file source with the identical parse layer."""
    raw = spark.readStream.format("text").load(path)
    return parse_trip_events(raw)


def read_trip_events_kafka(spark, bootstrap_servers: str, topic: str) -> DataFrame:
    """Kafka source (reference S1: topic ``testTopic`` @ localhost:9092,
    TripAggregatorApplication.kt:188-192). Requires the Kafka connector
    jar on the classpath; untestable in this container but the plan is
    identical to the file source after the CAST."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )
    return parse_trip_events(raw)
