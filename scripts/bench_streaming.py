"""Streaming-operator throughput micro-bench (VERDICT r12 next #5).

The 15 streaming modules were pytest-verified but carried no measured
throughput, so optimization rounds structurally could not touch them
and a perf regression there was invisible. This harness gives the three
representative stateful shapes a recorded events/s surface:

- ``ingest_dedup``   docs/s through the foreachBatch LSH ingest gate
                     (MinHash banding + index join + parquet append);
- ``trip_sessions``  events/s through keyed GroupState sessionization
                     (applyInPandasWithState, processing-time timers);
- ``kmv_stream``     events/s through the per-batch KMV sketch append,
                     one input file per micro-batch, so each run writes
                     one changelog epoch per file; after the timed runs,
                     one sketch read and one compaction of the last
                     run's changelog are timed on their own.

Method mirrors bench.py's trip-pipeline dual: availableNow (bounded)
runs over deterministic fixtures, one untimed warm run per stream
(schema + codegen warm-up), then best-of-N timed runs with fresh
checkpoints/output roots per run (state directories must not be reused
— a second ingest_dedup run against a grown corpus would measure
different work). A ``ProgressRecorder`` listens during the timed runs,
so each stream's record also carries its micro-batches per run, the
median batch time and the peak state-store rows. Prints ONE JSON line:
  {"streams": {name: events_per_sec, ...}, "samples": {...},
   "progress": {name: {"batches", "batch_ms_p50", "max_state_rows"}},
   "kmv_sketch_s": {"read", "compact", "epochs"}, ...}
and appends nothing to bench.py's record (side-harness by design —
bench.py's stdout contract stays byte-compatible).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 3
# how long to wait for the listener bus to deliver a run's last progress
PROGRESS_WAIT_S = 30


def progress_of(recorder, queries) -> dict:
    """Batches per run, median batch ms and peak state rows over the
    given finished queries, read from ``recorder``'s ledger. Listener
    events arrive asynchronously, so wait (bounded) until each query's
    last batch is in the ledger."""
    from flink_template_spark.streaming.monitoring import totals_of

    want = {str(q.id): q.lastProgress["batchId"] for q in queries if q.lastProgress}
    deadline = time.monotonic() + PROGRESS_WAIT_S
    while True:
        recs = [r for r in recorder.records if r["query_id"] in want]
        seen = {(r["query_id"], r["batch_id"]) for r in recs}
        if set(want.items()) <= seen or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    if not recs:
        return {}
    per_run = [totals_of([r for r in recs if r["query_id"] == qid]) for qid in want]
    return {
        "batches": statistics.median_low(t["n_batches"] for t in per_run),
        "batch_ms_p50": statistics.median(r["batch_duration_ms"] or 0 for r in recs),
        "max_state_rows": max(t["max_state_rows"] for t in per_run),
    }


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    from flink_template_spark.session import get_spark, silence_bounded_window_warns
    from flink_template_spark.streaming.monitoring import ProgressRecorder

    spark = get_spark(
        app_name="bench_streaming",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    silence_bounded_window_warns(spark)

    work = tempfile.mkdtemp(prefix="bench_streaming_")
    results: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    progress: dict[str, dict] = {}
    errors: dict[str, str] = {}

    def record(name, n_events, run_once):
        """One warm run + RUNS timed runs; keep the best rate. Each
        ``run_once`` returns its finished query."""
        recorder = ProgressRecorder()
        try:
            run_once("warm")
            spark.streams.addListener(recorder)
            rates, queries = [], []
            for i in range(RUNS):
                t0 = time.perf_counter()
                queries.append(run_once(f"t{i}"))
                rates.append(round(n_events / (time.perf_counter() - t0), 1))
            samples[name] = rates
            results[name] = max(rates)
            progress[name] = progress_of(recorder, queries)
        except Exception as exc:  # isolate per stream
            errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            spark.streams.removeListener(recorder)

    # ---- trip_sessions: keyed GroupState sessionization ------------------
    # Measured through the EVENT-TIME dual (sessionize_trips_event_time):
    # a bounded replay is exactly the backfill case its docstring names.
    # The processing-time variant is UNBENCHABLE under availableNow —
    # probed r13: ProcessingTimeTimeout keeps the query scheduling empty
    # ~0.75 s batches indefinitely (146 empty batches / 120 s at 5k
    # events, never terminating), so a wall-clock rate would measure
    # timer idling, not processing. Both variants are the same session
    # function with a different deadline rule, so the per-event stateful
    # work measured here is the code the processing-time path runs.
    from flink_template_spark.parse import read_trip_events_stream
    from flink_template_spark.sources.trip_fixtures import write_scaled_fixture
    from flink_template_spark.streaming.trip_sessions import (
        sessionize_trips_event_time,
    )

    trips_dir = os.path.join(work, "trip_events")
    n_trip_events = write_scaled_fixture(
        trips_dir, n_trips=4000, events_per_trip=50, n_shards=cpus
    )

    def run_trip(tag: str):
        ckpt = os.path.join(work, f"trip_ckpt_{tag}")
        q = (
            sessionize_trips_event_time(read_trip_events_stream(spark, trips_dir))
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("trip_sessions availableNow exceeded 600s")
        shutil.rmtree(ckpt, ignore_errors=True)
        return q

    record("trip_sessions", n_trip_events, run_trip)

    # ---- ingest_dedup: LSH gate over a JSONL doc stream ------------------
    from pyspark.sql import types as T

    from flink_template_spark.streaming.ingest_dedup import start_ingest_dedup

    docs_dir = os.path.join(work, "docs_in")
    os.makedirs(docs_dir, exist_ok=True)
    n_docs = 4000
    words = [f"tok{i}" for i in range(500)]
    lines = []
    for i in range(n_docs):
        # deterministic ~30-token docs with overlapping vocab so the
        # banding pipeline does real shingle work and some near-dups hit
        toks = [words[(i * 7 + k * 13) % len(words)] for k in range(30)]
        lines.append(json.dumps({"doc_id": i, "text": " ".join(toks)}))
    shard = max(1, n_docs // cpus)
    for s in range(0, n_docs, shard):
        with open(os.path.join(docs_dir, f"d{s}.jsonl"), "w") as fh:
            fh.write("\n".join(lines[s : s + shard]) + "\n")
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run_ingest(tag: str):
        root = os.path.join(work, f"corpus_{tag}")
        ckpt = os.path.join(work, f"ingest_ckpt_{tag}")
        stream = spark.readStream.schema(doc_schema).json(docs_dir)
        q = start_ingest_dedup(stream, root, ckpt, available_now=True)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("ingest_dedup availableNow exceeded 600s")
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return q

    record("ingest_dedup", n_docs, run_ingest)

    # ---- kmv_stream: per-batch KMV sketch changelog -----------------------
    from flink_template_spark.streaming.sketch_stream import (
        compact_kmv,
        read_kmv,
        write_kmv_stream,
    )

    ev_dir = os.path.join(work, "kmv_in")
    os.makedirs(ev_dir, exist_ok=True)
    n_ev = 200_000
    types = ["click", "view", "purchase", "scroll"]
    per_shard = n_ev // cpus
    k = 0
    for s in range(cpus):
        with open(os.path.join(ev_dir, f"e{s}.json"), "w") as fh:
            rows = []
            for _ in range(per_shard):
                rows.append(
                    json.dumps(
                        {
                            "ts": "2024-01-01T00:00:00",
                            "event_type": types[k % 4],
                            "user_id": (k * 2654435761) % 50_000,
                        }
                    )
                )
                k += 1
            fh.write("\n".join(rows) + "\n")
    n_kmv_events = per_shard * cpus
    ev_schema = T.StructType(
        [
            T.StructField("ts", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )

    def run_kmv(tag: str):
        # the sketch directory stays (under ``work``) for the read below
        sk = os.path.join(work, f"kmv_out_{tag}")
        ckpt = os.path.join(work, f"kmv_ckpt_{tag}")
        stream = (
            spark.readStream.schema(ev_schema).option("maxFilesPerTrigger", 1).json(ev_dir)
        )
        q = write_kmv_stream(stream, sk, ckpt, available_now=True)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("kmv_stream availableNow exceeded 600s")
        shutil.rmtree(ckpt, ignore_errors=True)
        return q

    record("kmv_stream", n_kmv_events, run_kmv)

    # The readers' cost grows with the unfolded epochs: time one read of
    # the last timed run's changelog, then one compaction of it, and check
    # the compacted base estimates the same counts.
    kmv_sketch_s: dict[str, float] = {}
    if "kmv_stream" in results:
        sk = os.path.join(work, f"kmv_out_t{RUNS - 1}")
        try:
            log = os.listdir(os.path.join(sk, "changelog"))
            kmv_sketch_s["epochs"] = sum(n.startswith("epoch=") for n in log)
            t0 = time.perf_counter()
            before = sorted(read_kmv(spark, sk).collect())
            kmv_sketch_s["read"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            compact_kmv(spark, sk)
            kmv_sketch_s["compact"] = round(time.perf_counter() - t0, 3)
            if sorted(read_kmv(spark, sk).collect()) != before:
                errors["kmv_sketch"] = "compacted sketch estimates differ from the changelog's"
        except Exception as exc:
            errors["kmv_sketch"] = f"{type(exc).__name__}: {str(exc)[:300]}"

    shutil.rmtree(work, ignore_errors=True)
    out = {
        "metric": "streaming_events_per_sec",
        "streams": results,
        "samples": samples,
        "progress": progress,
        "kmv_sketch_s": kmv_sketch_s,
        "fixture": {
            "trip_sessions": n_trip_events,
            "ingest_dedup": n_docs,
            "kmv_stream": n_kmv_events,
        },
        "cpus": cpus,
        "load1": round(os.getloadavg()[0], 2),
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
