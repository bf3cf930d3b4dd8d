"""StreamingQueryListener progress recorder: every micro-batch of a
real stateful stream lands in the ledger with engine-reported row
counts, durations, and state-store size; the ledger is bounded; totals
reconcile with the data actually fed."""

from __future__ import annotations

import json
import time

from flink_template_spark.streaming.monitoring import ProgressRecorder


def _lines(rows):
    return "\n".join(json.dumps(r) for r in rows) + "\n"


def test_progress_recorder_captures_stateful_batches(spark, tmp_path):
    from flink_template_spark.streaming.drift import monitor_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows_a = [
        {"doc_id": i, "source": f"s{i % 4}", "n_chars": 100} for i in range(60)
    ]
    rows_b = [
        {"doc_id": 100 + i, "source": f"s{i % 4}", "n_chars": 100}
        for i in range(40)
    ]
    (in_dir / "a.json").write_text(_lines(rows_a))
    (in_dir / "b.json").write_text(_lines(rows_b))

    rec = ProgressRecorder(max_batches=16)
    spark.streams.addListener(rec)
    try:
        stream = (
            spark.readStream.schema("doc_id LONG, source STRING, n_chars LONG")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        q = (
            monitor_stream(stream, 100.0, 5.0, 300.0)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("mon_cusum")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously on the bus thread
        deadline = time.time() + 30
        while time.time() < deadline:
            recs = [r for r in rec.records if r["name"] == "mon_cusum"]
            if sum(r["num_input_rows"] for r in recs) >= 100:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    recs = [r for r in rec.records if r["name"] == "mon_cusum"]
    assert sum(r["num_input_rows"] for r in recs) == 100  # all rows seen
    assert len(recs) >= 2  # two files -> at least two micro-batches
    data_batches = [r for r in recs if r["num_input_rows"] > 0]
    # the stateful operator reports state rows: 4 sources live forever
    assert max(r["state_rows"] for r in data_batches) == 4
    for r in data_batches:
        assert r["batch_duration_ms"] is not None and r["batch_duration_ms"] > 0
    t = rec.totals("mon_cusum")
    assert t["num_input_rows"] == 100
    assert t["max_state_rows"] == 4
    assert t["rows_per_sec"] is None or t["rows_per_sec"] > 0
    assert str(q.id) in rec.started_ids
    # availableNow terminated the query; the listener saw it end
    deadline = time.time() + 30
    while time.time() < deadline and str(q.id) not in rec.terminated_ids:
        time.sleep(0.5)
    assert str(q.id) in rec.terminated_ids


def test_progress_ledger_is_bounded():
    rec = ProgressRecorder(max_batches=3)

    class _Ev:
        class progress:
            json = json.dumps(
                {
                    "id": "x",
                    "name": "n",
                    "batchId": 0,
                    "numInputRows": 1,
                    "durationMs": {"triggerExecution": 5},
                    "stateOperators": [],
                }
            )

    for _ in range(10):
        rec.onQueryProgress(_Ev())
    assert len(rec.records) == 3  # deque bound, not a driver leak


def test_progress_record_carries_add_batch_phase():
    rec = ProgressRecorder()

    class _Ev:
        class progress:
            json = json.dumps(
                {
                    "id": "x",
                    "name": "n",
                    "batchId": 0,
                    "numInputRows": 1,
                    "durationMs": {"triggerExecution": 5, "addBatch": 3},
                }
            )

    rec.onQueryProgress(_Ev())
    (r,) = rec.records
    assert (r["batch_duration_ms"], r["add_batch_ms"]) == (5, 3)
