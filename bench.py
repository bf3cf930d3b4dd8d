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


def _load1() -> float | None:
    """1-minute load average, for adjudicating load-polluted readings
    (BASELINE.md trip-rate rule; VERDICT r10 next #3). None where the
    platform lacks getloadavg. NOTE: during a bench run the 1-min
    average mostly reflects the bench's OWN prior queries, so the
    primary adjudicator is _external_cpu_share below — load1 is kept
    as the start-of-run ambient reading (taken before any Spark work)."""
    try:
        return round(os.getloadavg()[0], 2)
    except (AttributeError, OSError):
        return None


def _cpu_totals() -> tuple[int, int] | None:
    """(total, idle) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle+iowait
        return sum(vals), idle
    except (OSError, ValueError, IndexError):
        return None


def _steal_probe() -> tuple[int, int] | None:
    """(total, steal) jiffies from /proc/stat — hypervisor steal time.

    Added in the r12 optimization round after two full bench runs on a
    0.3-load guest read 17-21 s headline while a third read 14.3 s with
    no code or guest-load change: host-level contention (steal) is
    INVISIBLE to _external_cpu_share (which attributes guest process
    CPU) and to the load average, so a 'clean' adjudication could still
    sit on a throttled host. Recording the steal share alongside lets a
    suspicious reading be re-adjudicated against hypervisor contention
    the same way kthread share covers kernel burn (ADVICE r11).

    Denominator convention: sum(vals) includes the guest/guest_nice
    columns (vals[8:]), which Linux already folds into user/nice — the
    same convention _cpu_totals uses, kept so the two probes' shares
    are directly comparable. On a bare guest (no nested VMs) the guest
    columns are 0 and the two conventions coincide; the understatement
    is bounded by the nested-guest share either way (ADVICE r12)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return sum(vals), steal
    except (OSError, ValueError, IndexError):
        return None


def _steal_share(before: tuple | None, after: tuple | None) -> float | None:
    if not before or not after:
        return None
    d_total = after[0] - before[0]
    if d_total <= 0:
        return None
    return round((after[1] - before[1]) / d_total, 4)


def _cpu_probe(root_pid: int) -> tuple | None:
    """One consistent /proc sweep → (cpu_totals, ours, kthreads):
    per-pid utime+stime jiffies of root_pid's process tree (the python
    driver, the Spark JVM, its Python workers) and of the kernel-thread
    tree. PER-PID (not tree totals) so the consumer can difference pid
    by pid: a long-lived worker that EXITS inside the window would
    otherwise subtract its whole pre-window history from the tree
    delta and misattribute the bench's own CPU as external. A pid that
    exits mid-window loses only its in-window burn (counted as
    external — small and bounded); short-lived already-reaped children
    are likewise missed. The kernel tree root is DISCOVERED (comm ==
    'kthreadd'), never assumed to be pid 2 — inside a PID namespace
    pid 2 is an arbitrary user process and kernel threads are usually
    invisible (empty kthread snapshot, correctly)."""
    try:
        totals = _cpu_totals()
        procs: dict[int, tuple[int, int]] = {}
        kthreadd = None
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    s = fh.read()
            except OSError:
                continue  # raced with process exit
            head, rest_s = s.rsplit(")", 1)
            rest = rest_s.split()
            pid = int(d)
            procs[pid] = (int(rest[1]), int(rest[11]) + int(rest[12]))
            # comm match alone is spoofable (exec -a kthreadd); the real
            # kthreadd is the unique process with ppid 0 and that comm
            if (
                kthreadd is None
                and head.endswith("(kthreadd")
                and rest[1] == "0"
            ):
                kthreadd = pid
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)

        def walk(root: int | None) -> dict[int, int]:
            out: dict[int, int] = {}
            stack = [] if root is None else [root]
            while stack:
                q = stack.pop()
                if q in out or q not in procs:
                    continue
                out[q] = procs[q][1]
                stack.extend(kids.get(q, []))
            return out

        return totals, walk(root_pid), walk(kthreadd)
    except (OSError, ValueError, IndexError):
        return None


def _external_cpu_share(
    before: tuple | None, after: tuple | None
) -> float | None:
    """Fraction of machine CPU time consumed by OTHER processes across
    a measurement window. `before`/`after` are _cpu_probe() results —
    (cpu_totals, our_tree_snapshot, kthread_snapshot) triples. This —
    not the load average, which a
    running bench inflates by itself — is what adjudicates whether a
    trip-rate reading was externally contended (BASELINE.md rule,
    rewritten r11). Our share is summed pid-by-pid: pids new in the
    window count in full, and a pid whose jiffies DECREASED was reused
    by a new in-tree process — its full (in-window) count is ours.
    Process exits therefore can't poison the attribution. Kernel
    threads (the kthreadd subtree — kworker flushes etc.) are excluded
    from BOTH sides, because their CPU is largely INDUCED by our own
    IO — counting it as external read a truly idle box at ~5%
    'contention' during the IO-heavy trip window (see _cpu_probe)."""
    if not before or not after or None in before or None in after:
        return None
    (tot0, idle0), ours0, kt0 = before
    (tot1, idle1), ours1, kt1 = after
    d_total = tot1 - tot0
    if d_total <= 0:
        return None
    busy = d_total - (idle1 - idle0)

    def _delta(s1: dict, s0: dict) -> int:
        d = 0
        for pid, j1 in s1.items():
            j0 = s0.get(pid, 0)
            d += j1 if j1 < j0 else j1 - j0
        return d

    external = max(0, busy - _delta(ours1, ours0) - _delta(kt1, kt0))
    return round(external / d_total, 4)


def _kthread_cpu_share(
    before: tuple | None, after: tuple | None
) -> float | None:
    """Raw kthreadd-subtree share of the window's total jiffies.

    _external_cpu_share excludes kernel threads from BOTH sides because
    their CPU is largely induced by our own IO — but that also hides
    kernel work induced by genuinely external processes (another
    process's writeback flushes, ksoftirqd under external network
    load), biasing the external share DOWNWARD right around the 0.05
    adjudication threshold (ADVICE r11). Recording the raw kthread
    delta alongside lets a borderline <0.05 reading with a LARGE
    kernel-thread share be re-adjudicated manually instead of silently
    passing."""
    if not before or not after or None in before or None in after:
        return None
    (tot0, _), _, kt0 = before
    (tot1, _), _, kt1 = after
    d_total = tot1 - tot0
    if d_total <= 0:
        return None
    d = 0
    for pid, j1 in kt1.items():
        j0 = kt0.get(pid, 0)
        d += j1 if j1 < j0 else j1 - j0
    return round(d / d_total, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    load1_start = _load1()
    steal0 = _steal_probe()

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
        # The operator persists its projected input; drop the warm-up's cache
        # so the TIMED run pays the full parse + materialize + aggregate cost
        # (reporting a warm-cache rerun would measure cache reads, not the
        # pipeline). TWO warm runs since r10: the r10 idle-band measurement
        # (BASELINE.md) showed the JSON-parse JIT keeps climbing for several
        # runs (223k -> 448k ev/s across five best-of-2 samples in one
        # session), so a single warm run left the recorded rate anywhere in
        # a +-40% band — the source of the driver's 394k/584k round-over-
        # round swings on unchanged code.
        for _ in range(2):
            warm = aggregate_trips(read_trip_events_json(spark, fx))
            warm.write.format("noop").mode("overwrite").save()
            warm.input.unpersist(True)
        # 3-sample band (VERDICT r10 next #3): the recorded rate is the
        # BEST of three timed runs, and all three per-sample rates are
        # recorded alongside the 1-min load average taken right before
        # the samples — BASELINE.md's "<350k fully-warm = regression"
        # clause is adjudicated against trip_load1, not narrative.
        trip_load1 = _load1()
        probe0 = _cpu_probe(os.getpid())
        tsteal0 = _steal_probe()
        trip_samples: list[float] = []
        for _ in range(3):
            timed = aggregate_trips(read_trip_events_json(spark, fx))
            t0 = time.perf_counter()
            timed.write.format("noop").mode("overwrite").save()
            w = time.perf_counter() - t0
            timed.input.unpersist(True)
            trip_samples.append(round(n_events / w, 1))
        probe1 = _cpu_probe(os.getpid())
        trip_ext_cpu = _external_cpu_share(probe0, probe1)
        trip_kt_cpu = _kthread_cpu_share(probe0, probe1)
        trip_steal = _steal_share(tsteal0, _steal_probe())
        trip_eps = max(trip_samples)
    except Exception as exc:
        trip_load1 = None
        trip_ext_cpu = None
        trip_kt_cpu = None
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
        "trip_pipeline_external_cpu_share": trip_ext_cpu,
        "trip_pipeline_kthread_cpu_share": trip_kt_cpu,
        "trip_pipeline_steal_share": trip_steal,
        "load1_start": load1_start,
        "load1_end": _load1(),
        "run_steal_share": _steal_share(steal0, _steal_probe()),
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

    headline = {
        "metric": "headline_queries_total_wall",
        "value": full["value"],
        "unit": "sec",
        "queries": timings,
        "extended_total": full["extended_total"],
        "extended_n": len(extended),
        "trip_pipeline_events_per_sec": trip_eps,
        "trip_pipeline_samples": trip_samples,
        "trip_pipeline_load1": trip_load1,
        "trip_pipeline_external_cpu_share": trip_ext_cpu,
        "trip_pipeline_kthread_cpu_share": trip_kt_cpu,
        "trip_pipeline_steal_share": trip_steal,
        "load1_start": load1_start,
        "load1_end": full["load1_end"],
        "run_steal_share": full["run_steal_share"],
        "sf": sf_val,
    }
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
