"""The benchmark's workloads, each driven through the engine's public
functions.

A workload makes its inputs from the seed (``prepare``), checks its
outputs in an untimed first pass (``warmup``), then runs ``warm_passes``
more passes as in the timed loop, then timed passes (``run_pass``) that
all do the same work. Every output is checked once per run against a
reference: the trip paths against the generator's expected aggregates,
the queries against each query's DuckDB oracle through
``tests/oracle_check.compare``.

``run_pass`` returns the pass's timed wall in seconds and the latency of
each operation in it, in ms: on ``trips`` the batch path and then each
micro-batch of the stream, on ``queries`` each query. Checks and the
traced run's extra parse-only pass sit outside the timed wall. With
``traced=True`` a pass also records per-layer samples into ``self.layers``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import itertools
import os
import random
import statistics
import time

from perfbench import probes, tablegen, tripgen

# The ``queries`` workload runs both lists in one seed-shuffled pass. The
# relational queries build their plan in milliseconds, so planning, jobs,
# stages and shuffle hold their time.
RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q7_nation_volume",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q18_large_volume_orders",
    "q_cube_flag_status",
    "q_json_get",
]
# Pair expansion (minhash buckets), Arrow/pandas crossing (cosine top-k)
# and jobs run while the plan is built (ANN index, k-means).
DEDUP_VECTORS = [
    "q_minhash_lsh_pairs",
    "q_cosine_topk",
    "q_ann_index_build",
    "q_kmeans_clusters",
]

# trips: the batch path reads 100k events over 10 minutes of event time
# at once. The stream reads 3k events over one minute cut into two 30 s
# files and the sentinel's, one file per micro-batch, so many trips span
# both batches; the availableNow run ends with one closing micro-batch.
# The Python fold costs ~0.2 ms an event and a micro-batch ~1.3 s more
# whatever its size, so the stream is the smaller input.
BATCH_INPUT = {"n_events": 100_000, "span_s": 600, "slice_s": 75}
STREAM_INPUT = {"n_events": 3_000, "span_s": 60, "slice_s": 30}
QUERY_SF = 0.01
STREAM_TIMEOUT_S = 150
DISTANCE_TOL_KM = 1e-6


def check_trips(rows, expected: dict[int, tuple], skip=frozenset()) -> list[str]:
    """Compare trip rows (Rows or dicts with trip_agg's columns) with the
    expected aggregates; one message per mismatch."""
    got = {}
    for r in rows:
        r = r.asDict() if hasattr(r, "asDict") else r
        got[r["trip_id"]] = r
    want = {k: v for k, v in expected.items() if k not in skip}
    problems = []
    if set(got) != set(want):
        problems.append(
            f"trip ids differ: {len(set(want) - set(got))} missing,"
            f" {len(set(got) - set(want))} extra"
        )
    for tid in sorted(set(got) & set(want)):
        vin, n, dist, total, moving, stopped = want[tid]
        r = got[tid]
        if (
            r["vehicle_id"] != vin
            or r["n_events"] != n
            or abs(r["distance_km"] - dist) > DISTANCE_TOL_KM
            or (r["total_s"], r["moving_s"], r["stopped_s"]) != (total, moving, stopped)
        ):
            problems.append(f"trip {tid}: got {r}, want {want[tid]}")
    return problems


def load_oracle_check(root: str):
    """Import ``tests/oracle_check.py`` from the checkout by path."""
    path = os.path.join(root, "tests", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def evict_session_memos() -> None:
    """Drop every build-once-per-session artifact, so each pass builds the
    ANN index, near-dup components, postings and trade edges anew."""
    from flink_template_spark.plans import graph, text_dedup, vectors

    for memo in (
        vectors._ANN_MEMO,
        text_dedup._COMPONENTS_MEMO,
        text_dedup._POSTING_MEMO,
        graph._TRADE_EDGES_MEMO,
    ):
        for key in list(memo.cache):
            memo.evict(key)


class Workload:
    """Shared bookkeeping: operations attempted and failed, job groups and
    per-layer samples."""

    name = ""
    # untimed passes after the checked one, counted in setup_s: the JIT
    # keeps speeding the first passes of a run up
    warm_passes = 0

    def __init__(self, seed: int, work: str, root: str) -> None:
        self.seed = seed
        self.work = work
        self.root = root
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: dict[str, list[float]] = {}
        self.records_per_pass = 0
        self._group_ids = itertools.count()

    def note(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def fail(self, message: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(message[:500])

    @contextlib.contextmanager
    def job_group(self, spark, label: str):
        """Run the block's Spark jobs under a fresh job group; yields its
        name for ``probes.job_group_totals``."""
        group = f"{label}#{next(self._group_ids)}"
        sc = spark.sparkContext
        sc.setJobGroup(group, label)
        try:
            yield group
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def trace_parse(self, spark, path: str) -> float:
        """A parse-only noop pass over ``path``: the parse.* numbers.
        Returns its wall time."""
        from flink_template_spark.parse import read_trip_events_json

        mark = probes.sql_execution_count(spark)
        with self.job_group(spark, "parse"):
            t0 = time.perf_counter()
            parsed = read_trip_events_json(spark, path)
            t1 = time.perf_counter()
            parsed.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        m = probes.sql_metrics_since(spark, mark)
        rows_in = probes.metric_sum(m, "number of output rows", node="Scan")
        rows_out = probes.metric_sum(m, "number of output rows", node="Filter")
        self.note("parse.build_s", t1 - t0)
        self.note("parse.exec_s", t2 - t1)
        self.note("parse.rows_in", rows_in)
        self.note("parse.rows_out", rows_out)
        self.note("parse.kept_share", rows_out / rows_in if rows_in else 0.0)
        return t2 - t0


class Trips(Workload):
    """Generated wire-format events through both trip paths: the batch
    backfill (parse -> trip_agg -> noop) over every file at once, then an
    availableNow stream (parse -> event-time sessionization) that reads
    one file per micro-batch, so trips carry state across batches."""

    name = "trips"
    warm_passes = 1

    def prepare(self) -> None:
        self.spec = tripgen.generate(self.seed, **BATCH_INPUT)
        self.input = os.path.join(self.work, "trip_events")
        tripgen.write(self.spec, self.input)
        self.stream_spec = tripgen.generate(self.seed, **STREAM_INPUT)
        self.stream_input = os.path.join(self.work, "trip_slices")
        tripgen.write(self.stream_spec, self.stream_input)
        self.records_per_pass = self.spec.n_lines + self.stream_spec.n_lines
        self.streams = 0

    def warmup(self, spark) -> None:
        """Untimed, once per run: the batch path's trips are checked
        against the generator's expected aggregates. The stream's sessions
        are checked in the first pass."""
        from flink_template_spark.operators.trip_agg import aggregate_trips
        from flink_template_spark.parse import read_trip_events_json

        self.attempted += 1
        try:
            agg = aggregate_trips(read_trip_events_json(spark, self.input))
            rows = agg.collect()
            agg.input.unpersist(True)
        except Exception as exc:  # an engine error is a failed check
            self.fail(f"batch check: {type(exc).__name__}: {exc}")
            return
        problems = check_trips(rows, self.spec.expected)
        if problems:
            self.fail("batch check: " + "; ".join(problems[:3]))

    def check_stream(self, rows) -> None:
        """The stream must emit every real trip of its input, each equal to
        the generator's expected aggregates."""
        spec = self.stream_spec
        self.attempted += 1
        problems = check_trips(rows, spec.expected, skip={spec.sentinel_trip})
        if len(rows) != spec.real_trips:
            problems.insert(0, f"{len(rows)} sessions for {spec.real_trips} trips")
        if problems:
            self.fail("stream check: " + "; ".join(problems[:3]))

    def _stream(self, spark):
        """One availableNow stream over the sliced input into a memory
        sink, with a fresh checkpoint directory. Returns (wall,
        recentProgress, rows), or None after counting the failure."""
        from flink_template_spark.parse import parse_trip_events
        from flink_template_spark.streaming.trip_sessions import (
            sessionize_trips_event_time,
        )

        self.streams += 1
        tag = f"s{self.streams}"
        table = f"perfbench_sessions_{tag}"
        t0 = time.perf_counter()
        try:
            raw = (
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", 1)
                .load(self.stream_input)
            )
            q = (
                sessionize_trips_event_time(parse_trip_events(raw))
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(table)
                .option("checkpointLocation", os.path.join(self.work, f"ckpt_{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"stream did not finish in {STREAM_TIMEOUT_S} s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        except Exception as exc:  # an engine error is a failed operation
            self.fail(f"stream: {type(exc).__name__}: {exc}")
            return None
        wall = time.perf_counter() - t0
        rows = spark.table(table).collect()
        spark.catalog.dropTempView(table)
        return wall, q.recentProgress, rows

    def run_pass(self, spark, traced: bool) -> tuple[float, list[float]]:
        from flink_template_spark.operators.trip_agg import aggregate_trips
        from flink_template_spark.parse import read_trip_events_json

        parse_wall = self.trace_parse(spark, self.input) if traced else 0.0
        self.attempted += 1
        try:
            with self.job_group(spark, "trip_agg") as group:
                t0 = time.perf_counter()
                parsed = read_trip_events_json(spark, self.input)
                t1 = time.perf_counter()
                agg = aggregate_trips(parsed)
                t2 = time.perf_counter()
                agg.write.format("noop").mode("overwrite").save()
                batch_wall = time.perf_counter() - t0
            persisted = probes.storage_bytes(spark) if traced else 0.0
            agg.input.unpersist(True)
        except Exception as exc:
            self.fail(f"batch pass: {type(exc).__name__}: {exc}")
            return 0.0, []
        if traced:
            tot = probes.job_group_totals(spark, group)
            self.note("trip_agg.build_s", t2 - t1)
            self.note("trip_agg.self_s", batch_wall - parse_wall)
            self.note("trip_agg.stages", tot.stages)
            self.note("trip_agg.shuffle_write_bytes", tot.shuffle_write)
            self.note("trip_agg.spill_bytes", tot.spill)
            self.note("trip_agg.persist_bytes", persisted)
            self.note("trip_agg.cpu_share", tot.cpu_ns / 1e6 / max(tot.run_ms, 1.0))

        mark = probes.sql_execution_count(spark) if traced else 0
        self.attempted += 1
        out = self._stream(spark)
        if out is None:
            return 0.0, []
        stream_wall, progress, rows = out
        if self.streams == 1:
            self.check_stream(rows)
        batches = [float(p["durationMs"].get("triggerExecution", 0)) for p in progress]
        if traced:
            self._trace_stream(spark, progress, batches, mark, len(rows))
        return batch_wall + stream_wall, [batch_wall * 1000.0] + batches

    def _trace_stream(self, spark, progress, batches, mark: int, n_out: int) -> None:
        phases = {
            "add_batch_ms": "addBatch",
            "planning_ms": "queryPlanning",
            "wal_commit_ms": "walCommit",
            "commit_offsets_ms": "commitOffsets",
            "get_batch_ms": "getBatch",
        }
        # means over the pass's micro-batches: the phases are whole ms
        for metric, key in phases.items():
            self.note(
                f"trip_sessions.{metric}",
                statistics.fmean(p["durationMs"].get(key, 0) for p in progress),
            )
        self.note("trip_sessions.batch_ms_p50", statistics.median(batches))
        self.note("trip_sessions.batch_ms_max", max(batches))
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        self.note("trip_sessions.state_rows", max((o["numRowsTotal"] for o in ops), default=0))
        self.note("trip_sessions.state_bytes", max((o["memoryUsedBytes"] for o in ops), default=0))
        self.note(
            "trip_sessions.state_commit_ms",
            statistics.fmean(o["commitTimeMs"] for o in ops) if ops else 0.0,
        )
        m = probes.sql_metrics_since(spark, mark)
        self.note("trip_sessions.python_bytes", probes.python_bytes(m))
        self.note("trip_sessions.python_start_ms", probes.python_start_ms(m))
        self.note("trip_sessions.batches", len(progress))
        self.note("trip_sessions.sessions_out", n_out)


class QueryWorkload(Workload):
    """Library queries over seeded tables, each built with
    ``plans.QUERIES[name]`` and written to noop, in a seed-fixed order."""

    warm_passes = 1

    def __init__(self, seed: int, work: str, root: str, name: str, queries: list[str]) -> None:
        super().__init__(seed, work, root)
        self.name = name
        self.queries = list(queries)
        random.Random(seed).shuffle(self.queries)

    def prepare(self) -> None:
        self.input = os.path.join(self.work, "tables")
        tablegen.write(self.seed, QUERY_SF, self.input)

    def warmup(self, spark) -> None:
        """First pass, untimed: every query's rows are compared with its
        DuckDB oracle. Its stage input records give the rows a pass reads."""
        from flink_template_spark import plans

        oracle_check = load_oracle_check(self.root)
        con = oracle_check.duckdb_conn(self.input)
        evict_session_memos()
        records = 0.0
        for q in self.queries:
            self.attempted += 1
            try:
                with self.job_group(spark, f"warmup:{q}") as group:
                    ok, msg = oracle_check.compare(
                        plans.QUERIES[q](spark, self.input), con, plans.ORACLES[q]
                    )
            except Exception as exc:
                ok, msg = False, f"{type(exc).__name__}: {exc}"
            if not ok:
                self.fail(f"{q}: {msg}")
            records += probes.job_group_totals(spark, group, task_detail=False).input_records
        con.close()
        self.records_per_pass = int(records)

    def run_pass(self, spark, traced: bool) -> tuple[float, list[float]]:
        from flink_template_spark import plans

        start = time.perf_counter()
        evict_session_memos()
        ops = []
        acc = {"build_s": 0.0, "plan_s": 0.0, "build_jobs": 0, "python_bytes": 0.0,
               "python_start_ms": 0.0, "stages": probes.StageTotals()}
        for q in self.queries:
            self.attempted += 1
            mark = probes.sql_execution_count(spark) if traced else 0
            t_plan = 0.0
            try:
                with self.job_group(spark, f"build:{q}") as build_group:
                    t0 = time.perf_counter()
                    df = plans.QUERIES[q](spark, self.input)
                    t1 = time.perf_counter()
                if traced:
                    df._jdf.queryExecution().executedPlan()
                    t_plan = time.perf_counter() - t1
                with self.job_group(spark, f"exec:{q}") as exec_group:
                    t2 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
            except Exception as exc:
                self.fail(f"{q}: {type(exc).__name__}: {exc}")
                continue
            ops.append((t1 - t0 + t3 - t2) * 1000.0)
            if traced:
                built = probes.job_group_totals(spark, build_group)
                acc["stages"].add(built)
                acc["stages"].add(probes.job_group_totals(spark, exec_group))
                m = probes.sql_metrics_since(spark, mark)
                self.note(f"plans.build_s.{q}", t1 - t0)
                self.note(f"plans.exec_s.{q}", t3 - t2)
                acc["build_s"] += t1 - t0
                acc["plan_s"] += t_plan
                acc["build_jobs"] += built.jobs
                acc["python_bytes"] += probes.python_bytes(m)
                acc["python_start_ms"] += probes.python_start_ms(m)
        wall = time.perf_counter() - start
        if traced:
            st = acc.pop("stages")
            for k, v in acc.items():
                self.note(f"plans.{k}", v)
            self.note("plans.jobs", st.jobs)
            self.note("plans.stages", st.stages)
            self.note("plans.tasks", st.tasks)
            self.note("plans.executor_run_s", st.run_ms / 1e3)
            self.note("plans.executor_cpu_s", st.cpu_ns / 1e9)
            self.note("plans.gc_s", st.gc_ms / 1e3)
            self.note("plans.shuffle_read_bytes", st.shuffle_read)
            self.note("plans.shuffle_write_bytes", st.shuffle_write)
            self.note("plans.spill_bytes", st.spill)
            self.note(
                "plans.max_task_share",
                st.largest_task_ms / st.multi_task_run_ms if st.multi_task_run_ms else 0.0,
            )
        return wall, ops


def make(name: str, seed: int, work: str, root: str) -> Workload:
    if name == "trips":
        return Trips(seed, work, root)
    if name == "queries":
        return QueryWorkload(seed, work, root, name, RELATIONAL + DEDUP_VECTORS)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["trips", "queries"]
