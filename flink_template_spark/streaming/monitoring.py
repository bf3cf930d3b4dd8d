"""Streaming-pipeline observability: a ``StreamingQueryListener`` that
records per-micro-batch progress into a bounded in-memory ledger, plus
derived health readouts (throughput, state growth, observed metrics).

This is the driver-side complement to ``observe.observe_stream``:
``observe`` computes IN-FLIGHT counters inside the job; the listener
captures what the ENGINE reports about each batch — input rows,
processed rows/second, batch duration and its addBatch phase,
state-store rows/bytes, and any
``observedMetrics`` — the numbers a 100 TB deployment ships to its
metrics system (the reference has no equivalent; its "monitoring" is a
debug log in the hot path, TripAggregatorApplication.kt:67).

Design:
- the ledger is BOUNDED (a deque of the last ``max_batches`` records):
  a listener that grows without bound is a driver memory leak on a
  months-long stream;
- records are plain dicts (JSON-ready) — a production deployment
  replaces ``record()`` with a metrics emit; tests read the ledger;
- listener callbacks run on the listener bus thread — they must never
  block (no Spark actions inside; we only parse the progress JSON).
"""

from __future__ import annotations

import json
import threading
from collections import deque
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


class ProgressRecorder(StreamingQueryListener):
    """Record per-batch StreamingQueryProgress into a bounded ledger.

    Usage::

        rec = ProgressRecorder(max_batches=256)
        spark.streams.addListener(rec)
        ... run streaming queries ...
        rec.records            # list of per-batch dicts, oldest first
        rec.totals()           # summed rows / wall across recorded batches
        spark.streams.removeListener(rec)
    """

    def __init__(self, max_batches: int = 256) -> None:
        super().__init__()
        self._lock = threading.Lock()
        self._records: deque[dict[str, Any]] = deque(maxlen=max_batches)
        # same bound as the batch ledger: a driver relaunching short
        # availableNow queries in a loop would otherwise grow these
        # forever (r8 self-review, second pass)
        self._started: deque[str] = deque(maxlen=max_batches)
        self._terminated: deque[str] = deque(maxlen=max_batches)

    # -- listener callbacks (bus thread: parse-only, never block) --

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        durations = p.get("durationMs") or {}
        rec = {
            "query_id": p.get("id"),
            "name": p.get("name"),
            "batch_id": p.get("batchId"),
            "num_input_rows": p.get("numInputRows", 0),
            "input_rows_per_sec": p.get("inputRowsPerSecond"),
            "processed_rows_per_sec": p.get("processedRowsPerSecond"),
            "batch_duration_ms": durations.get("triggerExecution"),
            # the phase that runs the batch's plan into the sink; for the
            # trip stream, the stateful operator and its Python UDF
            "add_batch_ms": durations.get("addBatch"),
            # state-store growth: the number a stateful operator's
            # watermark/TTL design is judged by
            "state_rows": sum(
                s.get("numRowsTotal", 0) for s in p.get("stateOperators") or []
            ),
            "state_bytes": sum(
                s.get("memoryUsedBytes", 0) for s in p.get("stateOperators") or []
            ),
            "observed": p.get("observedMetrics") or {},
        }
        with self._lock:
            self._records.append(rec)

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.append(str(event.id))

    # -- readouts --

    @property
    def records(self) -> list[dict[str, Any]]:
        with self._lock:
            return list(self._records)

    @property
    def started_ids(self) -> list[str]:
        with self._lock:
            return list(self._started)

    @property
    def terminated_ids(self) -> list[str]:
        with self._lock:
            return list(self._terminated)

    def totals(self, name: str | None = None) -> dict[str, Any]:
        """Summed input rows, wall, and mean throughput over recorded
        batches (optionally one query name)."""
        return totals_of(self.records, name)


def totals_of(
    records: list[dict[str, Any]], name: str | None = None
) -> dict[str, Any]:
    """Totals over an explicit ledger SNAPSHOT — callers that print the
    per-batch lines and a totals line must compute both from the same
    list, or an event delivered between the two reads makes them
    disagree (r9 review)."""
    recs = [r for r in records if name is None or r["name"] == name]
    rows = sum(r["num_input_rows"] or 0 for r in recs)
    wall_ms = sum(r["batch_duration_ms"] or 0 for r in recs)
    return {
        "n_batches": len(recs),
        "num_input_rows": rows,
        "wall_ms": wall_ms,
        "rows_per_sec": (rows * 1000.0 / wall_ms) if wall_ms else None,
        "max_state_rows": max((r["state_rows"] for r in recs), default=0),
    }
