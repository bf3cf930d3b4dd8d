"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload trips --seed 1 --seconds 12 --trace 0

The run makes its inputs from the seed, starts a Spark session on
``local[nproc]`` with ``nproc`` shuffle partitions, runs an untimed
warm-up (a pass that checks every output against its reference, then the
workload's fixed number of plain passes), then timed passes while the
next one is expected to end within ``--seconds`` (at least
``MIN_PASSES``). The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of
``BENCHMARK.json`` with ``--trace 1``. The line before it holds the run's
detail (samples, failures, steal share and load). Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

WORK_DIR = ".perfbench_work"
# plain passes a run times at least, however long they take
MIN_PASSES = 2


def _missing_engine(root: str) -> str | None:
    """Why the checkout at ``root`` cannot be benchmarked, or None."""
    for rel in ("flink_template_spark/__init__.py", "tests/oracle_check.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            return f"missing {rel}: run from the root of a full checkout"
    return None


def end_to_end_metrics(setup_s: float, pass_cpu: list[float], records: int) -> dict:
    """The ``end_to_end`` metrics of BENCHMARK.json from one run's samples.

    A pass is measured by the CPU seconds its process tree spends, what a
    metered backfill pays for, less the JVM's JIT compiler threads: a
    third of the total in a timed pass, and it varies from run to run with
    what the JVM compiles when, so it is the per-layer ``jvm.jit_cpu_s``. The
    wall time of a pass swings with the host's other tenants (a run with a
    fifth of the CPU stolen took 35% longer), so it is a per-layer reading
    of the traced run instead."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s": {"value": statistics.median(pass_cpu), "unit": "s"},
        "events_per_cpu_s": {
            "value": statistics.median(records / c for c in pass_cpu), "unit": "1/s",
        },
    }


def declared_layers(root: str) -> list[dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer"]


def layer_metrics(declared: list[dict], samples: dict[str, list[float]]) -> dict:
    """Every declared per-layer metric: the median of its samples, or 0
    when the workload does not run that layer."""
    return {
        m["name"]: {
            "value": statistics.median(samples.get(m["name"], [0.0])),
            "unit": m["unit"],
        }
        for m in declared
    }


def start_session(work: str):
    from flink_template_spark.session import get_spark, silence_bounded_window_warns

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        # a fixed set of JIT compiler threads, so none exits with CPU time
        # that cpu_s should leave out
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads every job, stage and SQL execution back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )
    silence_bounded_window_warns(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process it started."""
    from pyspark import SparkContext

    from perfbench import probes

    children = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    probes.wait_gone(children, timeout=20)


def measure(args, root: str, work: str) -> dict:
    from perfbench import probes, workloads

    cpu0 = probes.CpuSample.now()
    wl = workloads.make(args.workload, args.seed, work, root)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = start_session(work)
    start_s = time.perf_counter() - t
    warmup_s = 0.0
    try:
        t = time.perf_counter()
        wl.warmup(spark)
        for _ in range(wl.warm_passes):
            wl.run_pass(spark, traced=False)
        warmup_s = time.perf_counter() - t

        walls = {False: [], True: []}
        ops: list[float] = []
        pass_cpu: list[float] = []
        pass_jit: list[float] = []
        deadline = time.perf_counter() + args.seconds
        n = 0
        # the traced run alternates plain and traced passes, so the two
        # pass times give the tracing overhead
        while True:
            traced = bool(args.trace) and n % 2 == 1
            t = time.perf_counter()
            cpu_a, jit_a = probes.tree_cpu_s(os.getpid())
            wall, pass_ops = wl.run_pass(spark, traced)
            took = time.perf_counter() - t
            n += 1
            if pass_ops:
                walls[traced].append(wall)
                if not traced:
                    ops.extend(pass_ops)
                    cpu_b, jit_b = probes.tree_cpu_s(os.getpid())
                    pass_jit.append(jit_b - jit_a)
                    pass_cpu.append(cpu_b - cpu_a - pass_jit[-1])
            if args.trace:
                enough = walls[False] and walls[True]
            else:
                enough = len(walls[False]) >= MIN_PASSES
            # stop before a pass that would end past the deadline
            if time.perf_counter() + took > deadline and (enough or n >= 2 * MIN_PASSES):
                break
    finally:
        peak_mb = probes.peak_rss_mb(os.getpid())
        stop_session(spark)
    cpu1 = probes.CpuSample.now()

    steal = cpu0.steal_share_until(cpu1)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "prepare_s": prepare_s,
        "session_start_s": start_s,
        "warmup_s": warmup_s,
        "pass_s": walls[False],
        "traced_pass_s": walls[True],
        "pass_cpu_s": pass_cpu,
        "pass_jit_cpu_s": pass_jit,
        "op_samples": len(ops),
        "op_ms": [round(x, 1) for x in ops],
        "records_per_pass": wl.records_per_pass,
        "peak_rss_mb": peak_mb,
        "failed_share": wl.failed / max(wl.attempted, 1),
        "problems": wl.problems,
        "steal_share": steal,
        "load1_start": cpu0.load1,
        "load1_end": cpu1.load1,
    }
    result = {
        "correct": wl.failed == 0,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
    }
    if not walls[False] or not ops:
        result["correct"] = False
        result["metrics"] = {}
        return {"detail": detail, "result": result}

    if args.trace:
        wl.note("session.start_s", start_s)
        wl.note("session.peak_rss_mb", peak_mb)
        if walls[True]:
            wl.note("trace_overhead_share",
                    statistics.median(walls[True]) / statistics.median(walls[False]) - 1.0)
        wl.note("host.steal_share", steal)
        wl.note("pass_wall_s", statistics.median(walls[False]))
        wl.note("jvm.jit_cpu_s", statistics.median(pass_jit))
        metrics = layer_metrics(declared_layers(root), wl.layers)
    else:
        metrics = end_to_end_metrics(start_s + warmup_s, pass_cpu, wl.records_per_pass)
    result["metrics"] = metrics
    return {"detail": detail, "result": result}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    problem = _missing_engine(root)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import flink_template_spark

    if not os.path.abspath(flink_template_spark.__file__).startswith(root + os.sep):
        print("perfbench: flink_template_spark imports from outside the checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the engine from the checkout; every
    # temporary file the run makes stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM, like the Spark JVM, keeps no perf file
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    try:
        out = measure(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
