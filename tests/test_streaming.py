"""Structured Streaming tests: stateful trip sessionization (W4), windowed
aggregates with watermark, keyed dedup, and the upsert sink (S3-S5).

File-source micro-batches drive everything deterministically
(processAllAvailable); the session-timeout test sleeps past the 4 s
retention deadline and then triggers one more micro-batch so the
processing-time timer can fire — same mechanics as the reference's
processing-time trigger.
"""

from __future__ import annotations

import json
import sqlite3
import time

import pytest

from pyspark.sql import functions as F

from flink_template_spark.parse import read_trip_events_stream
from flink_template_spark.sources.trip_fixtures import write_fixture
from flink_template_spark.sources.trip_fixtures import _start
from flink_template_spark.streaming.trip_sessions import (
    sessionize_trips,
    sessionize_trips_event_time,
)
from flink_template_spark.streaming.windows import (
    dedup_keyed,
    dedup_within_watermark,
    tumbling_counts,
)


def test_streaming_trip_sessions(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    write_fixture(str(in_dir / "batch1.jsonl"))

    parsed = read_trip_events_stream(spark, str(in_dir))
    out = sessionize_trips(parsed)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("trip_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # NOTE: processAllAvailable() never returns under
        # ProcessingTimeTimeout — Spark keeps scheduling no-data
        # "cleaning up state" batches so the timers can fire. Poll the
        # sink instead; sessions appear once a trip goes quiet for the
        # 4 s retention deadline (ProcessingTimeTrigger.kt:15-24).
        deadline = time.time() + 60
        rows = {}
        while time.time() < deadline:
            rows = {
                r.trip_id: r
                for r in spark.sql("SELECT * FROM trip_sessions").collect()
            }
            if len(rows) >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    assert set(rows) == {1, 2, 3}
    t1 = rows[1]
    assert t1.vehicle_id == "VIN00001"
    assert t1.total_s == 55
    assert t1.stopped_s == 20
    assert t1.moving_s == 35
    assert t1.distance_km > 0
    t2 = rows[2]
    assert t2.vehicle_id == "VIN00002"
    assert (t2.total_s, t2.stopped_s, t2.moving_s) == (30, 10, 20)


def test_streaming_trip_sessions_event_time(spark, tmp_path):
    """Watermark-driven dual: sessions close when EVENT time goes quiet
    for the 4 s gap — no wall-clock sleeps; a single later event advances
    the watermark past every open deadline."""
    in_dir = tmp_path / "in_et"
    in_dir.mkdir()
    write_fixture(str(in_dir / "batch1.jsonl"))

    parsed = read_trip_events_stream(spark, str(in_dir))
    out = sessionize_trips_event_time(parsed)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("trip_sessions_et")
        .option("checkpointLocation", str(tmp_path / "ckpt_et"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 1's watermark (max ts 12:01:00 - 3 s = 12:00:57) already
        # passes trips 2 and 3's deadlines (last event + 4 s); trip 1's
        # TripEnd at s=60 keeps its deadline at s=64 — still open.
        emitted = {
            r.trip_id
            for r in spark.sql("SELECT * FROM trip_sessions_et").collect()
        }
        assert emitted == {2, 3}
        # one event 5 min later: watermark jumps past trip 1's deadline.
        (in_dir / "batch2.jsonl").write_text(_start(50, 300.0, "VIN00050") + "\n")
        deadline = time.time() + 60
        rows = {}
        while time.time() < deadline:
            rows = {
                r.trip_id: r
                for r in spark.sql("SELECT * FROM trip_sessions_et").collect()
            }
            if len(rows) >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    assert set(rows) == {1, 2, 3}  # trip 50 is still open (no later event)
    t1 = rows[1]
    assert (t1.total_s, t1.stopped_s, t1.moving_s) == (55, 20, 35)
    assert t1.vehicle_id == "VIN00001"
    t2 = rows[2]
    assert (t2.total_s, t2.stopped_s, t2.moving_s) == (30, 10, 20)


def test_streaming_tumbling_watermark(spark, tmp_path):
    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    lines = [
        json.dumps({"ts": f"2024-01-01T00:00:{s:02d}", "user_id": u, "value": 1.0})
        for s, u in [(1, 1), (5, 1), (11, 2), (15, 2), (25, 1)]
    ]
    (in_dir / "b1.jsonl").write_text("\n".join(lines) + "\n")

    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    events = spark.readStream.schema(schema).json(str(in_dir))
    agg = tumbling_counts(events, size="10 seconds")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark has advanced to 00:00:22; windows [0,10) and [10,20)
        # are final and emitted in append mode; [20,30) still open.
        rows = {
            r.window_start.second: r.n_events
            for r in spark.sql("SELECT * FROM tumbling").collect()
        }
        assert rows == {0: 2, 10: 2}

        # a late event inside the closed [0,10) window must be dropped
        (in_dir / "b2.jsonl").write_text(
            json.dumps({"ts": "2024-01-01T00:00:02", "user_id": 9, "value": 1.0})
            + "\n"
            + json.dumps({"ts": "2024-01-01T00:00:40", "user_id": 9, "value": 1.0})
            + "\n"
        )
        q.processAllAvailable()
        rows2 = {
            r.window_start.second: r.n_events
            for r in spark.sql("SELECT * FROM tumbling").collect()
        }
        assert rows2[0] == 2  # late row did not resurrect the closed window
        assert rows2[20] == 1  # [20,30) closed once watermark passed it
    finally:
        q.stop()


def test_streaming_dedup_keyed(spark, tmp_path):
    in_dir = tmp_path / "dd"
    in_dir.mkdir()
    recs = [
        {"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 1.0},  # dup
        {"ts": "2024-01-01T00:00:02", "user_id": 1, "value": 2.0},
    ]
    (in_dir / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    events = spark.readStream.schema(schema).json(str(in_dir))
    q = (
        dedup_keyed(events, keys=["user_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM dedup").count() == 2
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Key-only dedup with watermark-bounded state: a re-send with a
    DIFFERENT event time inside the delay is dropped (dedup_keyed would
    keep it); the same key far outside the delay passes once its state
    has been evicted."""
    in_dir = tmp_path / "ddw"
    in_dir.mkdir()
    recs = [
        {"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T00:00:03", "user_id": 1, "value": 1.0},  # re-send, new ts
        {"ts": "2024-01-01T00:00:02", "user_id": 2, "value": 2.0},
    ]
    (in_dir / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    events = spark.readStream.schema(schema).json(str(in_dir))
    q = (
        dedup_within_watermark(events, keys=["user_id"], watermark="10 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ddw")
        .option("checkpointLocation", str(tmp_path / "ckpt_ddw"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM ddw").count() == 2  # one per key
        # advance the watermark past user 1's state expiry first (state
        # is evicted only when the watermark moves, which happens at the
        # END of a batch — a fresh key does the advancing)...
        (in_dir / "b2.jsonl").write_text(
            json.dumps(
                {"ts": "2024-01-01T00:30:00", "user_id": 3, "value": 3.0}
            )
            + "\n"
        )
        q.processAllAvailable()
        # ...then the SAME key is accepted again: its dedup state is gone
        (in_dir / "b3.jsonl").write_text(
            json.dumps(
                {"ts": "2024-01-01T01:00:00", "user_id": 1, "value": 9.0}
            )
            + "\n"
        )
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM ddw WHERE user_id = 1").count() == 2
    finally:
        q.stop()


def test_upsert_sink_accumulates(spark, tmp_path):
    from flink_template_spark.sinks import accounts_upsert_batch_fn

    db = str(tmp_path / "sink.db")
    write = accounts_upsert_batch_fn(lambda: sqlite3.connect(db, timeout=60))

    df1 = spark.createDataFrame(
        [(1, 100.0, False), (2, 50.0, False)],
        "id INT, amount DOUBLE, is_terminator BOOLEAN",
    )
    df2 = spark.createDataFrame(
        [(1, 25.0, True)], "id INT, amount DOUBLE, is_terminator BOOLEAN"
    )
    write(df1, 0)
    write(df2, 1)
    write(df2, 1)  # replayed epoch must be a no-op (at-least-once → idempotent)

    con = sqlite3.connect(db)
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute("SELECT id, balance, is_terminator FROM accounts")
    )
    assert rows[1] == (125.0, 1)  # accumulate + OR semantics
    assert rows[2] == (50.0, 0)


def test_upsert_sink_schema_validation(spark, tmp_path):
    from flink_template_spark.sinks import SchemaMismatch, accounts_upsert_batch_fn

    write = accounts_upsert_batch_fn(lambda: sqlite3.connect(str(tmp_path / "x.db")))
    bad = spark.createDataFrame([(1, "oops")], "id INT, amount STRING")
    with pytest.raises(SchemaMismatch):
        write(bad, 0)


def test_type_registry_roundtrip():
    from flink_template_spark.typemap import (
        UnsupportedType,
        ddl_for_schema,
        spark_type_for,
        sql_type_for,
    )
    from pyspark.sql import types as T
    import pytest

    # the reference's 13-type surface + ARRAY (JDBCTypeUtil.kt:26-87)
    cases = [
        (T.BooleanType(), "BOOLEAN"),
        (T.ByteType(), "TINYINT"),
        (T.ShortType(), "SMALLINT"),
        (T.IntegerType(), "INTEGER"),
        (T.LongType(), "BIGINT"),
        (T.FloatType(), "REAL"),
        (T.DoubleType(), "DOUBLE PRECISION"),
        (T.StringType(), "VARCHAR"),
        (T.DateType(), "DATE"),
        (T.TimestampType(), "TIMESTAMP"),
        (T.BinaryType(), "VARBINARY"),
        (T.DecimalType(12, 2), "DECIMAL(12,2)"),
        (T.ArrayType(T.LongType()), "BIGINT ARRAY"),
    ]
    for dt, sql in cases:
        assert sql_type_for(dt) == sql
        assert spark_type_for(sql) == dt
    assert spark_type_for("double") == T.DoubleType()  # synonym, any case
    with pytest.raises(UnsupportedType):
        sql_type_for(T.MapType(T.StringType(), T.StringType()))

    ddl = ddl_for_schema(
        "accounts",
        T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("balance", T.DoubleType(), nullable=False),
            ]
        ),
        primary_key="id",
    )
    assert "id INTEGER PRIMARY KEY" in ddl
    assert "balance DOUBLE PRECISION NOT NULL" in ddl


def test_streaming_session_window(spark, tmp_path):
    from flink_template_spark.streaming.windows import session_counts

    in_dir = tmp_path / "sw"
    in_dir.mkdir()
    # user 1: two bursts separated by > 30 s gap → two sessions; the
    # final event at 02:00 pushes the watermark past both.
    lines = [
        json.dumps({"ts": f"2024-01-01T00:{m:02d}:{s:02d}", "user_id": u, "value": 1.0})
        for m, s, u in [(0, 1, 1), (0, 10, 1), (0, 50, 1), (2, 0, 2)]
    ]
    (in_dir / "b1.jsonl").write_text("\n".join(lines) + "\n")
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    events = spark.readStream.schema(schema).json(str(in_dir))
    q = (
        session_counts(events, gap="30 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt_sw"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT user_id, n_events FROM sessions ORDER BY session_start"
        ).collect()
    finally:
        q.stop()
    # user 2's session is still open (watermark at 01:59:57)
    assert [(r.user_id, r.n_events) for r in rows] == [(1, 2), (1, 1)]


def test_streaming_stream_static_join(spark, tmp_path):
    from flink_template_spark.streaming.windows import enrich_stream_static

    in_dir = tmp_path / "ss"
    in_dir.mkdir()
    recs = [
        {"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T00:00:02", "user_id": 2, "value": 2.0},
        {"ts": "2024-01-01T00:00:03", "user_id": 3, "value": 3.0},  # no dim row
    ]
    (in_dir / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    events = spark.readStream.schema(schema).json(str(in_dir))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id LONG, tier STRING"
    )
    q = (
        enrich_stream_static(events, dim, on="user_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT user_id, tier FROM enriched ORDER BY user_id").collect()
    finally:
        q.stop()
    assert [(r.user_id, r.tier) for r in rows] == [(1, "gold"), (2, "silver")]


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """S7 parity: a restarted query resumes from its checkpoint — rows
    from before the restart are not re-delivered to the sink (the
    reference's exactly-once checkpointing contract, observed through
    the idempotent upsert sink's final state)."""
    from flink_template_spark.sinks import write_stream_upsert

    in_dir = tmp_path / "ckrec"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_rec")
    db = str(tmp_path / "rec.db")

    def start():
        schema = "id INT, amount DOUBLE, is_terminator BOOLEAN"
        src = spark.readStream.schema(schema).json(str(in_dir))
        return write_stream_upsert(src, lambda: sqlite3.connect(db), ckpt)

    (in_dir / "b1.jsonl").write_text(
        json.dumps({"id": 1, "amount": 100.0, "is_terminator": False}) + "\n"
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart on the same checkpoint with one new file
    (in_dir / "b2.jsonl").write_text(
        json.dumps({"id": 1, "amount": 25.0, "is_terminator": True}) + "\n"
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    con = sqlite3.connect(db)
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute("SELECT id, balance, is_terminator FROM accounts")
    )
    # 100 applied exactly once + 25 from after the restart
    assert rows[1] == (125.0, 1)


def test_checkpoint_manager_refuses_to_overwrite_a_commit(spark, tmp_path):
    """The engine session commits checkpoints through the FileSystem-based
    manager, and that manager keeps the property exactly-once relies on:
    a second commit of the same batch file fails and leaves the first
    one intact."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    fm = pkg.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hadoop_conf
    )
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    f = tmp_path / "0"
    target = jvm.org.apache.hadoop.fs.Path(str(f))
    out = fm.createAtomic(target, False)
    out.write(bytearray(b"first"))
    out.close()

    out = fm.createAtomic(target, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Exception) as err:
        out.close()
    exists_error = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists_error.isInstance(err.value.java_exception)
    assert f.read_bytes() == b"first"


def test_streaming_sliding_window(spark, tmp_path):
    from flink_template_spark.streaming.windows import sliding_counts

    in_dir = tmp_path / "sl"
    in_dir.mkdir()
    # events at :01 :05 :15; final event at 02:00 closes all windows.
    lines = [
        json.dumps({"ts": f"2024-01-01T00:{m:02d}:{s:02d}", "user_id": 1, "value": 1.0})
        for m, s in [(0, 1), (0, 5), (0, 15), (2, 0)]
    ]
    (in_dir / "b1.jsonl").write_text("\n".join(lines) + "\n")
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    events = spark.readStream.schema(schema).json(str(in_dir))
    q = (
        sliding_counts(events, size="20 seconds", slide="10 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sliding")
        .option("checkpointLocation", str(tmp_path / "ckpt_sl"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r.window_start.minute, r.window_start.second): r.n_events
            for r in spark.sql("SELECT * FROM sliding").collect()
        }
    finally:
        q.stop()
    # 20s windows sliding by 10s: events at :01,:05 in [23:50,0:10) and
    # [0:00,0:20); :15 in [0:00,0:20) and [0:10,0:30)
    assert rows[(59, 50)] == 2
    assert rows[(0, 0)] == 3
    assert rows[(0, 10)] == 1


def test_full_reference_pipeline_end_to_end(spark, tmp_path):
    """The reference's complete dataflow in one query (SURVEY.md §3
    entry point 1 + the disabled JDBC path enabled): file/Kafka-dual
    source → JSON parse (drop malformed) → stateful processing-time
    sessionization → foreachBatch upsert into a SQL store."""
    from flink_template_spark.sinks import BATCH_SIZE

    in_dir = tmp_path / "full"
    in_dir.mkdir()
    write_fixture(str(in_dir / "b1.jsonl"))
    db = str(tmp_path / "trips.db")

    def upsert_sessions(df, epoch_id):
        rows = [
            (r.trip_id, r.vehicle_id, r.n_events, r.distance_km,
             r.total_s, r.moving_s, r.stopped_s)
            for r in df.collect()
        ]
        con = sqlite3.connect(db)
        try:
            con.execute(
                """CREATE TABLE IF NOT EXISTS trip_sessions (
                   trip_id INTEGER PRIMARY KEY, vehicle_id VARCHAR,
                   n_events INTEGER, distance_km DOUBLE,
                   total_s INTEGER, moving_s INTEGER, stopped_s INTEGER)"""
            )
            for i in range(0, len(rows), BATCH_SIZE):
                con.executemany(
                    """INSERT INTO trip_sessions VALUES (?,?,?,?,?,?,?)
                       ON CONFLICT (trip_id) DO UPDATE SET
                         n_events = excluded.n_events""",
                    rows[i : i + BATCH_SIZE],
                )
            con.commit()
        finally:
            con.close()

    parsed = read_trip_events_stream(spark, str(in_dir))
    q = (
        sessionize_trips(parsed)
        .writeStream.outputMode("append")
        .foreachBatch(upsert_sessions)
        .option("checkpointLocation", str(tmp_path / "ckpt_full"))
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = {}
        while time.time() < deadline:
            try:
                con = sqlite3.connect(db)
                rows = {
                    r[0]: r for r in con.execute("SELECT * FROM trip_sessions")
                }
                con.close()
            except sqlite3.OperationalError:
                rows = {}
            if len(rows) >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    assert set(rows) >= {1, 2, 3}
    t1 = rows[1]
    assert t1[1] == "VIN00001" and t1[4] == 55 and t1[6] == 20  # total/stopped


def test_app_entry_runs_pipeline(spark, tmp_path):
    """run_trip_pipeline: the reference's main() as one call."""
    from flink_template_spark.app import run_trip_pipeline

    in_dir = tmp_path / "app"
    in_dir.mkdir()
    write_fixture(str(in_dir / "b1.jsonl"))
    q = run_trip_pipeline(
        spark,
        source_path=str(in_dir),
        checkpoint_dir=str(tmp_path / "ckpt_app"),
        sink="memory",
        query_name="app_sessions",
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT * FROM app_sessions").count()
            if n >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n >= 3

    with pytest.raises(ValueError):
        run_trip_pipeline(spark)  # no source given


def test_streaming_update_mode_tumbling(spark, tmp_path):
    """Update output mode: windows re-emit as new data refines them
    (no watermark finality needed), the low-latency dual of append."""
    from flink_template_spark.streaming.windows import tumbling_counts

    in_dir = tmp_path / "upd"
    in_dir.mkdir()
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    (in_dir / "b1.jsonl").write_text(
        json.dumps({"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 1.0}) + "\n"
    )
    events = spark.readStream.schema(schema).json(str(in_dir))
    q = (
        tumbling_counts(events, size="10 seconds")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("upd")
        .option("checkpointLocation", str(tmp_path / "ckpt_upd"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r.window_start.second, r.n_events)
            for r in spark.sql("SELECT * FROM upd").collect()
        }
        assert first == {(0, 1)}  # emitted immediately, window still open

        (in_dir / "b2.jsonl").write_text(
            json.dumps({"ts": "2024-01-01T00:00:05", "user_id": 2, "value": 1.0})
            + "\n"
        )
        q.processAllAvailable()
        rows = [
            (r.window_start.second, r.n_events)
            for r in spark.sql("SELECT * FROM upd").collect()
        ]
    finally:
        q.stop()
    # the window was re-emitted with the refined count
    assert (0, 2) in rows


def test_write_console_batch_and_stream(spark, tmp_path, capfd):
    from flink_template_spark.sinks import write_console

    df = spark.createDataFrame([(1, "x")], "id INT, s STRING")
    assert write_console(df, n=5) is None  # batch → show(), returns None
    out = capfd.readouterr().out
    assert "id" in out and "x" in out

    in_dir = tmp_path / "cons"
    in_dir.mkdir()
    (in_dir / "b.jsonl").write_text(json.dumps({"id": 1}) + "\n")
    stream = spark.readStream.schema("id LONG").json(str(in_dir))
    q = write_console(stream, checkpoint_dir=str(tmp_path / "ckpt_cons"))
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    from flink_template_spark.streaming.windows import join_streams_interval

    l_dir, r_dir = tmp_path / "sj_l", tmp_path / "sj_r"
    l_dir.mkdir(); r_dir.mkdir()
    (l_dir / "b.jsonl").write_text(
        json.dumps({"ts": "2024-01-01T00:00:10", "user_id": 1, "value": 1.0}) + "\n"
    )
    # one right event inside the 30 s bound, one outside, one other key
    (r_dir / "b.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ts": "2024-01-01T00:00:20", "user_id": 1, "value": 10.0},
                {"ts": "2024-01-01T00:05:00", "user_id": 1, "value": 20.0},
                {"ts": "2024-01-01T00:00:15", "user_id": 2, "value": 30.0},
            ]
        )
        + "\n"
    )
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    left = spark.readStream.schema(schema).json(str(l_dir)).withColumnRenamed("value", "lv")
    right = spark.readStream.schema(schema).json(str(r_dir)).withColumnRenamed("value", "rv")
    q = (
        join_streams_interval(left.alias("l"), right.alias("r"), key="user_id")
        .selectExpr("l.user_id AS user_id", "lv", "rv")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sjoin")
        .option("checkpointLocation", str(tmp_path / "ckpt_sj"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = [tuple(r) for r in spark.sql("SELECT * FROM sjoin").collect()]
    finally:
        q.stop()
    assert rows == [(1, 1.0, 10.0)]  # only the in-window same-key pair


def test_streaming_complete_mode(spark, tmp_path):
    """Complete output mode: the whole aggregate table re-emits each
    batch (no watermark required) — the dashboard-refresh mode."""
    in_dir = tmp_path / "cm"
    in_dir.mkdir()
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    (in_dir / "b1.jsonl").write_text(
        json.dumps({"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 1.0}) + "\n"
    )
    events = spark.readStream.schema(schema).json(str(in_dir))
    counts = events.groupBy("user_id").count()
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cmpl")
        .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
        .start()
    )
    try:
        q.processAllAvailable()
        (in_dir / "b2.jsonl").write_text(
            json.dumps({"ts": "2024-01-01T00:00:02", "user_id": 1, "value": 2.0})
            + "\n"
        )
        q.processAllAvailable()
        rows = {(r.user_id, r["count"]) for r in spark.sql("SELECT * FROM cmpl").collect()}
    finally:
        q.stop()
    assert rows == {(1, 2)}  # full refreshed table, not appended deltas


def test_streaming_session_checkpoint_recovery(spark, tmp_path):
    """Stop the event-time session query after batch 1, restart from the
    same checkpoint: keyed state must survive the restart (trip 1 still
    open), and already-emitted sessions must not re-emit (exactly-once
    over restarts) — the recovery semantics the reference gets from
    Flink checkpointing (TripAggregatorApplication.kt:244). Sink is
    parquet: the only built-in sink that is both fault-tolerant and
    restart-recoverable (memory sink refuses checkpoint recovery)."""
    in_dir = tmp_path / "in_rec"
    in_dir.mkdir()
    write_fixture(str(in_dir / "batch1.jsonl"))
    ckpt = str(tmp_path / "ckpt_rec")
    out_dir = str(tmp_path / "out_rec")

    def start():
        parsed = read_trip_events_stream(spark, str(in_dir))
        return (
            sessionize_trips_event_time(parsed)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def emitted():
        try:
            return [
                (r.trip_id, r.total_s, r.stopped_s)
                for r in spark.read.parquet(out_dir).collect()
            ]
        except Exception:
            return []  # no files yet

    q = start()
    try:
        q.processAllAvailable()
        deadline = time.time() + 30
        while time.time() < deadline and len(emitted()) < 2:
            time.sleep(0.5)
    finally:
        q.stop()
    assert {t for t, *_ in emitted()} == {2, 3}

    # new data arrives while the query is down
    (in_dir / "batch2.jsonl").write_text(_start(50, 300.0, "VIN00050") + "\n")
    q2 = start()
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = emitted()
            if any(t == 1 for t, *_ in rows):
                break
            time.sleep(0.5)
    finally:
        q2.stop()

    # trip 1 completes from RECOVERED state (55 s span proves the
    # buffers survived the restart); trips 2/3 appear exactly once.
    trips = sorted(t for t, *_ in rows)
    assert trips == [1, 2, 3], trips
    (t1,) = [r for r in rows if r[0] == 1]
    assert (t1[1], t1[2]) == (55, 20)


def test_rate_source_drives_windowed_agg(spark, tmp_path):
    """The rate source (S1's broker-less stand-in) feeds the same
    windowed-aggregation plan as the file/Kafka paths."""
    from flink_template_spark.sources.files import read_rate

    stream = read_rate(spark, rows_per_second=200).select(
        F.col("timestamp").alias("ts"),
        (F.col("value") % 4).alias("user_id"),
        F.lit(1.0).alias("value"),
    )
    agg = tumbling_counts(stream, size="1 seconds")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("rate_win")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT * FROM rate_win").count()
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0


def test_stream_stream_interval_join_left_outer(spark, tmp_path):
    """Left-outer interval join: matched rows emit immediately;
    unmatched left rows emit with nulls only after the watermark proves
    no right match can arrive."""
    from flink_template_spark.streaming.windows import join_streams_interval

    l_dir, r_dir = tmp_path / "sjo_l", tmp_path / "sjo_r"
    l_dir.mkdir(); r_dir.mkdir()
    (l_dir / "b.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ts": "2024-01-01T00:00:10", "user_id": 1, "value": 1.0},
                {"ts": "2024-01-01T00:00:10", "user_id": 2, "value": 2.0},
            ]
        )
        + "\n"
    )
    (r_dir / "b.jsonl").write_text(
        json.dumps({"ts": "2024-01-01T00:00:20", "user_id": 1, "value": 10.0}) + "\n"
    )
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    left = spark.readStream.schema(schema).json(str(l_dir)).withColumnRenamed("value", "lv")
    right = spark.readStream.schema(schema).json(str(r_dir)).withColumnRenamed("value", "rv")
    q = (
        join_streams_interval(
            left.alias("l"), right.alias("r"), key="user_id", how="leftOuter"
        )
        .selectExpr("l.user_id AS user_id", "lv", "rv")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sjoin_lo")
        .option("checkpointLocation", str(tmp_path / "ckpt_sjo"))
        .start()
    )
    try:
        q.processAllAvailable()
        # user 2 is still held: the watermark hasn't passed its interval
        rows = {tuple(r) for r in spark.sql("SELECT * FROM sjoin_lo").collect()}
        assert rows == {(1, 1.0, 10.0)}
        # advance event time far past both intervals ON BOTH SIDES (the
        # global watermark is the MIN of the per-stream watermarks, so a
        # quiet left stream would pin it) -> null row flushes
        late = json.dumps({"ts": "2024-01-01T01:00:00", "user_id": 9, "value": 0.0})
        (r_dir / "b2.jsonl").write_text(late + "\n")
        (l_dir / "b2.jsonl").write_text(late + "\n")
        q.processAllAvailable()
        # state eviction emits on the batch AFTER the watermark moves;
        # poll until the held row flushes
        deadline = time.time() + 60
        rows = set()
        while time.time() < deadline:
            q.processAllAvailable()
            rows = {tuple(r) for r in spark.sql("SELECT * FROM sjoin_lo").collect()}
            if len(rows) >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    # user 9's identical left/right rows match each other immediately;
    # user 2's held row flushes as a null-padded outer result
    assert rows == {(1, 1.0, 10.0), (2, 2.0, None), (9, 0.0, 0.0)}


def test_available_now_backfill_with_observed_metrics(spark, tmp_path):
    """Trigger.AvailableNow drains all existing input then stops - the
    backfill mode (process history with streaming semantics, exit like
    a batch job). Quality counters ride along via observe() and land in
    progress.observedMetrics - no second validation pass."""
    from flink_template_spark.observe import observe_stream
    from flink_template_spark.streaming.windows import tumbling_counts

    in_dir = tmp_path / "an_in"
    in_dir.mkdir()
    (in_dir / "b.jsonl").write_text(
        "\n".join(
            json.dumps({"ts": f"2024-01-01T00:0{m}:00", "user_id": m % 2, "value": 1.0})
            for m in range(6)
        )
        + "\n"
    )
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    stream = observe_stream(
        spark.readStream.schema(schema).json(str(in_dir)), "quality", id_col="user_id"
    )
    out = tumbling_counts(stream, size="5 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("an_backfill")
        .option("checkpointLocation", str(tmp_path / "ckpt_an"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # drained everything, stopped by itself
    observed = [
        p.observedMetrics["quality"]
        for p in q.recentProgress
        if "quality" in (p.observedMetrics or {})
    ]
    assert sum(m.n_rows for m in observed) == 6
    # empty trailing micro-batches observe sum(NULL) for the null count
    assert all((m.n_null_id or 0) == 0 for m in observed)


def test_observe_batch_quality_counters(spark, sf_dir):
    from flink_template_spark.observe import observe_batch
    from flink_template_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    observed, obs = observe_batch(docs, id_col="doc_id")
    n = observed.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["n_null_id"] == 0
    assert got["approx_ids"] > 0


def test_streaming_parquet_file_sink_exactly_once(spark, tmp_path):
    """Lakehouse ingest: writeStream.format('parquet') commits files
    through the _spark_metadata transaction log, so readers see each
    micro-batch's files exactly once (no partial/duplicate reads) and a
    restart from the checkpoint does not re-append committed batches."""
    in_dir, out_dir = tmp_path / "pq_in", tmp_path / "pq_out"
    in_dir.mkdir()
    (in_dir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"ts": f"2024-01-01T00:00:{s:02d}", "user_id": s, "value": 1.0})
            for s in range(5)
        )
        + "\n"
    )
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .json(str(in_dir))
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(tmp_path / "ckpt_pq"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(str(out_dir)).count() == 5
    # restart with no new data: the committed batch must not re-append
    run_once()
    assert spark.read.parquet(str(out_dir)).count() == 5
    # new input appends exactly its own rows
    (in_dir / "b2.jsonl").write_text(
        json.dumps({"ts": "2024-01-01T00:01:00", "user_id": 99, "value": 2.0}) + "\n"
    )
    run_once()
    got = spark.read.parquet(str(out_dir))
    assert got.count() == 6
    assert got.filter(F.col("user_id") == 99).count() == 1


def test_streaming_near_dup_simhash(spark, tmp_path):
    """Near-dup suppression on a document stream: a lightly-edited copy
    (one word changed in a long text) collapses to the same SimHash and
    is dropped; genuinely different content survives."""
    from flink_template_spark.streaming.windows import dedup_near_stream

    base = (
        "the quick brown fox jumps over the lazy dog near the quiet river "
        "while the sun sets slowly over the green valley and the birds sing "
        "their evening songs in the tall trees " * 3
    ).strip()
    near = base.replace("quiet river", "quiet stream", 1)
    other = "completely different content about database engines and distributed shuffles"

    in_dir = tmp_path / "nd_in"
    in_dir.mkdir()
    (in_dir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ts": "2024-01-01T00:00:01", "doc_id": 1, "text": base},
                {"ts": "2024-01-01T00:00:02", "doc_id": 2, "text": near},
                {"ts": "2024-01-01T00:00:03", "doc_id": 3, "text": other},
            ]
        )
        + "\n"
    )
    schema = "ts TIMESTAMP, doc_id LONG, text STRING"
    stream = spark.readStream.schema(schema).json(str(in_dir))
    q = (
        dedup_near_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("near_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
        .start()
    )
    try:
        q.processAllAvailable()
        kept = {r.doc_id for r in spark.sql("SELECT * FROM near_dedup").collect()}
    finally:
        q.stop()
    assert kept == {1, 3}  # doc 2 collapsed into doc 1's signature


def test_streaming_windowed_approx_distinct(spark, tmp_path):
    """Sketch aggregates run inside streaming state: tumbling-window
    approx_count_distinct over a file stream matches the batch exact
    count within HLL error — distinct-counting at stream scale without
    per-key exact state."""
    in_dir = tmp_path / "hll_in"
    in_dir.mkdir()
    (in_dir / "a.jsonl").write_text(
        "\n".join(
            json.dumps(
                {"ts": f"2024-01-01T00:{m:02d}:00", "user_id": m % 7, "value": 1.0}
            )
            for m in range(30)
        )
        + "\n"
    )
    schema = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    stream = spark.readStream.schema(schema).json(str(in_dir))
    out = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .select(F.col("w.start").alias("bucket"), "approx_users")
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("hll_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode: only watermark-closed windows emit; the fixture's two
    # 15-min buckets close once the 00:29 max event time passes 00:15+10m
    rows = {r.bucket.minute: r.approx_users for r in
            spark.sql("SELECT * FROM hll_stream").collect()}
    assert rows, "no closed windows emitted"
    for minute, approx in rows.items():
        assert abs(approx - 7) <= 1  # 7 distinct users per bucket, rsd 2%


def test_upsert_sink_concurrent_partitions(spark, tmp_path):
    """Executor-side path under real parallelism: the sink repartitions
    each batch to SINK_PARTITIONS hash partitions by key, writes
    per-partition transactions against one sqlite file (lock contention
    exercised), accumulates exactly, and a full-batch replay is a no-op
    thanks to the (epoch, partition) markers."""
    from flink_template_spark.sinks import SINK_PARTITIONS, accounts_upsert_batch_fn

    db = str(tmp_path / "sink_mp.db")
    # generous timeout: SINK_PARTITIONS concurrent writers share one file
    write = accounts_upsert_batch_fn(lambda: sqlite3.connect(db, timeout=60))

    n = 1000
    df = (
        spark.range(n)
        .repartition(8)  # arbitrary input partitioning — the sink re-pins it
        .selectExpr(
            "CAST(id % 100 AS INT) AS id",
            "CAST(1.0 AS DOUBLE) AS amount",
            "id % 100 = 0 AS is_terminator",
        )
    )
    write(df, 7)
    write(df, 7)  # replayed epoch: skipped wholesale by the driver pre-check

    con = sqlite3.connect(db)
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute("SELECT id, balance, is_terminator FROM accounts")
    )
    assert len(rows) == 100
    assert all(bal == 10.0 for bal, _ in rows.values())  # 1000 rows / 100 keys
    assert rows[0] == (10.0, 1)  # id 0 carries the is_terminator OR
    n_markers = con.execute("SELECT COUNT(*) FROM __epochs").fetchone()[0]
    assert n_markers == SINK_PARTITIONS  # one per sink partition, no dupes


def test_upsert_sink_replay_partitioning_guard(spark, tmp_path):
    """Markers record the pinned partition count: a COMPLETE epoch is
    skipped wholesale even if the count has since changed; a PARTIAL
    epoch under a different count refuses to resume (ReplayMismatch)
    instead of double-applying."""
    from flink_template_spark.sinks import ReplayMismatch, accounts_upsert_batch_fn

    db = str(tmp_path / "sink_guard.db")
    factory = lambda: sqlite3.connect(db, timeout=60)  # noqa: E731
    df = spark.createDataFrame(
        [(1, 10.0, False), (2, 5.0, False)],
        "id INT, amount DOUBLE, is_terminator BOOLEAN",
    )

    # epoch 0 written under n_partitions=4
    accounts_upsert_batch_fn(factory, n_partitions=4)(df, 0)
    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM __epochs").fetchone()[0] == 4

    # restart with a different pinned count: complete epoch 0 must be
    # skipped wholesale (balances unchanged), not re-applied
    accounts_upsert_batch_fn(factory, n_partitions=8)(df, 0)
    bal = dict(con.execute("SELECT id, balance FROM accounts").fetchall())
    assert bal == {1: 10.0, 2: 5.0}

    # a PARTIAL epoch under the old count: drop one marker, then replay
    # under the new count — must refuse rather than guess
    con.execute("DELETE FROM __epochs WHERE epoch_id = 0 AND partition_id = 0")
    con.commit()
    with pytest.raises(ReplayMismatch):
        accounts_upsert_batch_fn(factory, n_partitions=8)(df, 0)
    # same count as recorded → per-partition resume is safe and fills
    # only the missing partition's work
    accounts_upsert_batch_fn(factory, n_partitions=4)(df, 0)
    assert con.execute("SELECT COUNT(*) FROM __epochs").fetchone()[0] == 4


def test_upsert_sink_replay_partitioner_fingerprint_guard(spark, tmp_path):
    """Markers also record a partitioner-identity fingerprint (Spark
    version + murmur3 probe outputs): a PARTIAL epoch whose markers
    were written under a DIFFERENT hash function refuses to resume even
    when the partition count matches — same count no longer implies the
    same row->partition boundaries. Legacy markers (NULL fingerprint,
    pre-round-4 schema) still resume on the count check alone."""
    from flink_template_spark.sinks import (
        ReplayMismatch,
        _partitioner_fingerprint,
        accounts_upsert_batch_fn,
    )

    db = str(tmp_path / "sink_fp_guard.db")
    factory = lambda: sqlite3.connect(db, timeout=60)  # noqa: E731
    df = spark.createDataFrame(
        [(1, 10.0, False), (2, 5.0, False)],
        "id INT, amount DOUBLE, is_terminator BOOLEAN",
    )
    write = accounts_upsert_batch_fn(factory, n_partitions=4)
    write(df, 0)

    con = sqlite3.connect(db)
    fps = [
        r[0]
        for r in con.execute("SELECT DISTINCT partitioner FROM __epochs")
    ]
    assert fps == [_partitioner_fingerprint(spark)]  # recorded + uniform

    # partial epoch whose surviving markers claim a different partitioner
    con.execute("DELETE FROM __epochs WHERE epoch_id = 0 AND partition_id = 0")
    con.execute(
        "UPDATE __epochs SET partitioner = 'spark-9.9.9/murmur3:0' "
        "WHERE epoch_id = 0"
    )
    con.commit()
    with pytest.raises(ReplayMismatch):
        write(df, 0)

    # a MIXED epoch (some legacy NULL markers, some fingerprinted) is a
    # conflict in itself: MIN/MAX skip NULLs, so without the explicit
    # mix check it would read as uniformly fingerprinted and resume
    con.execute(
        "UPDATE __epochs SET partitioner = NULL "
        "WHERE epoch_id = 0 AND partition_id = 1"
    )
    con.commit()
    with pytest.raises(ReplayMismatch, match="mixes legacy"):
        write(df, 0)

    # legacy markers (no fingerprint recorded): count-only resume still
    # works, and the resume's own markers stay NULL so the epoch never
    # becomes mixed after a mid-resume crash
    con.execute("UPDATE __epochs SET partitioner = NULL WHERE epoch_id = 0")
    con.commit()
    write(df, 0)
    assert con.execute("SELECT COUNT(*) FROM __epochs").fetchone()[0] == 4
    assert (
        con.execute(
            "SELECT COUNT(partitioner) FROM __epochs WHERE epoch_id = 0"
        ).fetchone()[0]
        == 0
    )
