"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line to stdout:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock of all headline queries (each executed
to completion via a count-collect that forces the full plan without
pulling rows to the driver).

Record parseability (VERDICT r6 what's-wrong #1): the grading driver
captures only the LAST 2000 characters of stdout and parses the JSON it
finds there. Round 6's single line grew past that when the extended set
hit ~70 queries, so the driver recorded ``"parsed": null`` and the
headline total was lost from the artifact trail. The contract is now:
stdout carries EXACTLY ONE compact line — the headline object
(metric/value/unit/headline per-query walls/trip rate/sf/error names),
guaranteed to fit the 2000-char tail — while the full record including
the per-extended-query walls and full error messages is written to
``bench_extended.json`` next to this file (and echoed to stderr for
humans running it by hand).

Load-robustness (VERDICT r5 next #3 — the r5 driver headline read +30%
purely from machine pressure): a single wall sample measures
max(plan cost, background load). Each headline query is therefore run
twice and the MIN recorded (the min over runs converges on the plan's
own cost; ±50% load variance on this box is documented in BASELINE.md),
and EVERY extended query is likewise run twice with the MIN recorded
(r8: the old >3 s-only rerun gate let session-accumulation spikes read
as regressions — seven r7 walls inflated >2× with no plan change). The
headline total stays comparable across rounds because every round
records the same statistic.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q7_nation_volume",
    "q10_returned_items",
    "q_cube_flag_status",
    "q_json_get",
    # subquery family
    "q13_order_count_distribution",
    "q18_large_volume_orders",
    # north-star families (dedup / vectors / text / time windows / telemetry)
    "q_minhash_lsh_pairs",
    "q_cosine_topk",
    "q_text_stats_by_lang",
    "q_events_tumbling_daily",
    "q_trip_summary",
]

# Newer operator families, timed identically but reported OUTSIDE the
# headline total so `value` stays comparable across rounds. Module-level
# so tests/test_plans.py can walk the same set the bench times (the
# unpartitioned-window allowlist guard).
#
# Derived from the query registry, NOT hand-maintained (VERDICT r9
# next #2: the old literal list grew by round and silently omitted 123
# early-family queries, leaving them with no perf-regression signal).
# Every registered query is benched by default; the ONLY queries
# without an extended wall are the HEADLINE names (a second extended
# wall would double-count the same plan in the artifact). BASELINE.md
# records the one-time extended_total jump when the set was back-filled
# in round 10 (the code did not slow down — the denominator grew).
#
# Computed LAZILY (ADVICE r10): importing the full plans registry at
# module import time made any single plans-module import failure break
# the whole bench record before run_one's per-query isolation could
# catch it. Callers (main(), tests) invoke extended_names() instead.


def extended_names() -> list[str]:
    from flink_template_spark import plans as _plans  # registry import only

    hl = set(HEADLINE)
    return [n for n in _plans.QUERIES if n not in hl]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # host readings (steal share, 1-min load) come from the benchmark's
    # own probe, imported here so a bare `import bench` stays cheap
    from perfbench.probes import CpuSample

    run0 = CpuSample.now()

    from flink_template_spark import plans
    from flink_template_spark.session import get_spark, silence_bounded_window_warns

    spark = get_spark(app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    # the engine's remaining unpartitioned windows are all bounded-size
    # by construction; scope that one logger down so real WARNs stand out
    silence_bounded_window_warns(spark)

    errors: dict[str, str] = {}

    def _evict_ann_index() -> None:
        # q_ann_index_build must measure the BUILD on every sample; the
        # session memo would otherwise make its min-of-2 a cache read.
        # (The graph queries' trade-edge memo and text_dedup's
        # near-dup components memo are deliberately NOT evicted: their
        # recorded walls are the steady-state serve cost of the shared
        # materialized tables, per VERDICT r5 #2 / r7 #2.)
        from flink_template_spark.plans import vectors as V

        V._ANN_MEMO.evict((spark.sparkContext.applicationId, sf_dir))

    _PRE_RUN = {"q_ann_index_build": _evict_ann_index}

    def run_one(name: str) -> float | None:
        """Execute one query to completion; never let a failure abort the run."""
        pre = _PRE_RUN.get(name)
        if pre is not None:
            pre()
        t0 = time.perf_counter()
        try:
            df = plans.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # isolate: record and keep benchmarking
            errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
            return None
        return round(time.perf_counter() - t0, 3)

    names = [n for n in HEADLINE if n in plans.QUERIES]
    # warm the JVM + parquet footer caches with one untimed run
    run_one(names[0])
    errors.clear()

    timings: dict[str, float] = {}
    for name in names:
        wall = run_one(name)
        if wall is None:
            continue
        second = run_one(name)  # min-of-2: load-spike immunity
        timings[name] = min(wall, second) if second is not None else wall

    # streaming-workload dual: the reference's one real pipeline
    # (JSON parse -> per-trip session aggregate) as batch throughput.
    import tempfile

    from flink_template_spark.operators.trip_agg import aggregate_trips
    from flink_template_spark.parse import read_trip_events_json
    from flink_template_spark.sources.trip_fixtures import write_scaled_fixture

    # 1M events amortizes job-startup overhead into a steady-state rate
    trip_eps: float | None = None
    try:
        n_trips, ept = 20000, 50
        # every fixture parameter is encoded in the path so a stale dir
        # written under different constants can never be silently reused
        # with a wrong n_events denominator (ADVICE r8)
        fx = os.path.join(
            tempfile.gettempdir(),
            f"bench_trip_events_{n_trips}x{ept}x{cpus}_sharded",
        )
        if os.path.exists(fx):
            n_events = n_trips * ept
        else:
            n_events = write_scaled_fixture(
                fx, n_trips=n_trips, events_per_trip=ept, n_shards=cpus
            )
        # warm the JSON-scan schema + codegen path like the headline warm-up,
        # so the reported rate is steady-state, not first-run compilation.
        # The operator caches nothing, so each TIMED run pays the full
        # parse + aggregate cost. TWO warm runs since r10: the r10 idle-band
        # measurement (BASELINE.md) showed the JSON-parse JIT keeps climbing
        # for several runs (223k -> 448k ev/s across five best-of-2 samples
        # in one session), so a single warm run left the recorded rate
        # anywhere in a +-40% band — the source of the driver's 394k/584k
        # round-over-round swings on unchanged code.
        for _ in range(2):
            warm = aggregate_trips(read_trip_events_json(spark, fx))
            warm.write.format("noop").mode("overwrite").save()
        # 3-sample band (VERDICT r10 next #3): the recorded rate is the
        # BEST of three timed runs, and all three per-sample rates are
        # recorded alongside the 1-min load average taken right before
        # the samples and the steal share across them — BASELINE.md's
        # trip-rate rule is adjudicated against those two, not narrative.
        trip0 = CpuSample.now()
        trip_load1 = round(trip0.load1, 2)
        trip_samples: list[float] = []
        for _ in range(3):
            timed = aggregate_trips(read_trip_events_json(spark, fx))
            t0 = time.perf_counter()
            timed.write.format("noop").mode("overwrite").save()
            w = time.perf_counter() - t0
            trip_samples.append(round(n_events / w, 1))
        trip_steal = round(trip0.steal_share_until(CpuSample.now()), 4)
        trip_eps = max(trip_samples)
    except Exception as exc:
        trip_load1 = None
        trip_steal = None
        trip_samples = []
        errors["trip_pipeline"] = f"{type(exc).__name__}: {str(exc)[:300]}"

    # Min-of-2 for EVERY extended query (VERDICT r7 next #4: the old
    # >3 s-only rerun gate let one-off session-accumulation spikes
    # masquerade as real regressions in round-over-round comparison —
    # seven r7 walls inflated >2× with no plan change). Two samples per
    # query makes each recorded wall a load-spike-immune statistic at
    # the cost of ~2× extended-bench time, which the sidecar absorbs.
    # SPARK_GRAFT_BENCH_SMOKE=1 skips the ~300 s extended sweep so the
    # headline + trip-rate + load-context machinery can be smoke-tested
    # in under a minute (used by /verify; never set by the driver).
    smoke = os.environ.get("SPARK_GRAFT_BENCH_SMOKE") == "1"
    extended: dict[str, float] = {}
    for name in [] if smoke else [
        n for n in extended_names() if n in plans.QUERIES
    ]:
        wall = run_one(name)
        if wall is None:
            continue
        second = run_one(name)
        if second is not None:
            wall = min(wall, second)
        extended[name] = wall

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    run1 = CpuSample.now()
    # Full record -> sidecar file (auditable per-extended-query walls)
    # + stderr. Compact headline-only record -> stdout, sized to always
    # fit the driver's 2000-char tail capture (see module docstring).
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "extended": extended,
        "extended_total": round(sum(extended.values()), 3),
        "trip_pipeline_events_per_sec": trip_eps,
        "trip_pipeline_samples": trip_samples,
        "trip_pipeline_load1": trip_load1,
        "trip_pipeline_steal_share": trip_steal,
        "load1_start": round(run0.load1, 2),
        "load1_end": round(run1.load1, 2),
        "run_steal_share": round(run0.steal_share_until(run1), 4),
        "sf": sf_val,
    }
    if errors:
        full["errors"] = errors
    # smoke runs must NOT clobber the committed full record — the
    # sidecar is the round-over-round extended-wall baseline (a smoke
    # run once wiped all ~290 walls and swapped sf 0.1 -> 0.01)
    if not smoke:
        sidecar = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_extended.json"
        )
        try:
            with open(sidecar, "w") as fh:
                json.dump(full, fh, indent=1)
        except OSError as exc:  # never let the sidecar kill the record
            print(f"bench: could not write {sidecar}: {exc}", file=sys.stderr)
    print(json.dumps(full), file=sys.stderr)

    # stdout line = the full record minus the per-extended-query walls
    # and error messages, which live in the sidecar
    headline = {k: v for k, v in full.items() if k not in ("extended", "errors")}
    headline["extended_n"] = len(extended)
    if errors:
        # names only: full messages live in the sidecar; stdout must stay
        # under the 2000-char tail no matter how many queries error.
        headline["error_names"] = sorted(errors)[:20]
        headline["error_count"] = len(errors)
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: drop per-query walls before overflowing
        headline["queries"] = {"_dropped_for_size": len(timings)}
        line = json.dumps(headline, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
