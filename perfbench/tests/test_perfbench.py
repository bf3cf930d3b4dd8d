"""Tests of the benchmark itself: seeded inputs, the output checks, failure
accounting and the metric names of BENCHMARK.json.

The fast tests need no Spark session. ``test_run_prints_every_metric``
runs the benchmark end to end on ``trips`` (about a minute each).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import probes, run, tablegen, tripgen, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_trip_generator_is_seeded(tmp_path):
    a = tripgen.generate(7, n_events=6000, span_s=120, slice_s=4)
    b = tripgen.generate(7, n_events=6000, span_s=120, slice_s=4)
    c = tripgen.generate(8, n_events=6000, span_s=120, slice_s=4)
    tripgen.write(a, str(tmp_path / "a"))
    tripgen.write(b, str(tmp_path / "b"))
    tripgen.write(c, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert a.expected == b.expected
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a.expected != c.expected


def test_table_generator_is_seeded():
    a, b, c = (tablegen.tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_generated_stream_has_every_case():
    spec = tripgen.generate(1, n_events=8000, span_s=60, slice_s=2)
    lines = [line for f in spec.files for line in f]
    assert any(line.startswith("{not json") for line in lines)
    assert any('"Bogus"' in line for line in lines)
    assert any("MiddleEarth" in line for line in lines)
    assert any('"TripEnd"' in line for line in lines)
    assert any("NotAPid" in line for line in lines)
    assert spec.stats["duplicates"] > 0
    # the sentinel is alone in the last file, far past every real event
    assert len(spec.files[-1]) == 1
    assert str(tripgen.SENTINEL_TRIP) in spec.files[-1][0]
    assert len(spec.expected) == spec.real_trips + 1


def test_check_rejects_stopped_s_off_by_one():
    spec = tripgen.generate(5, n_events=1000, span_s=60, slice_s=2)
    cols = ["vehicle_id", "n_events", "distance_km", "total_s", "moving_s", "stopped_s"]
    rows = [dict(zip(["trip_id"] + cols, (tid,) + exp)) for tid, exp in spec.expected.items()]
    assert workloads.check_trips(rows, spec.expected) == []
    rows[3]["stopped_s"] += 1
    problems = workloads.check_trips(rows, spec.expected)
    assert len(problems) == 1 and f"trip {rows[3]['trip_id']}" in problems[0]


def test_check_rejects_missing_trip_and_distance_drift():
    spec = tripgen.generate(6, n_events=400, span_s=60, slice_s=2)
    cols = ["vehicle_id", "n_events", "distance_km", "total_s", "moving_s", "stopped_s"]
    rows = [dict(zip(["trip_id"] + cols, (tid,) + exp)) for tid, exp in spec.expected.items()]
    rows[0]["distance_km"] += 1e-5
    assert len(workloads.check_trips(rows, spec.expected)) == 1
    assert workloads.check_trips(rows[1:], spec.expected)[0].startswith("trip ids differ")


def test_stream_check_counts_a_missing_session():
    wl = workloads.make("trips", 3, "unused", ROOT)
    wl.stream_spec = tripgen.generate(3, **workloads.STREAM_INPUT)
    spec = wl.stream_spec
    cols = ["vehicle_id", "n_events", "distance_km", "total_s", "moving_s", "stopped_s"]
    rows = [
        dict(zip(["trip_id"] + cols, (tid,) + exp))
        for tid, exp in spec.expected.items()
        if tid != spec.sentinel_trip
    ]
    wl.check_stream(rows)
    assert (wl.attempted, wl.failed) == (1, 0)
    wl.check_stream(rows[1:])
    assert (wl.attempted, wl.failed) == (2, 1)
    assert "sessions for" in wl.problems[0]


def test_tree_cpu_counts_reaped_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before, _ = probes.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True)
    after, _ = probes.tree_cpu_s(os.getpid())
    assert after - before >= 0.25


class _Writer:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


class _Frame:
    write = _Writer()


class _Context:
    def setJobGroup(self, *_):
        pass

    def setLocalProperty(self, *_):
        pass


class _Session:
    sparkContext = _Context()


def test_injected_query_failure_raises_failed_share(monkeypatch):
    from flink_template_spark import plans

    def broken(spark, sf_dir):
        raise RuntimeError("injected")

    wl = workloads.make("queries", 1, "unused", ROOT)
    for q in wl.queries:
        monkeypatch.setitem(plans.QUERIES, q, lambda spark, sf_dir: _Frame())
    monkeypatch.setitem(plans.QUERIES, wl.queries[2], broken)
    wl.input = "unused"
    _, ops = wl.run_pass(_Session(), traced=False)
    assert wl.attempted == len(wl.queries)
    assert wl.failed == 1 and len(ops) == len(wl.queries) - 1
    assert wl.failed / wl.attempted > 0
    assert "injected" in wl.problems[0]


def test_end_to_end_names_match_benchmark_json():
    metrics = run.end_to_end_metrics(12.0, [1.0, 1.2], 1000)
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == declared
    assert all(v["value"] > 0 for v in metrics.values())


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        layers = json.load(fh)["metrics"]
    names = [m["name"] for m in BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert set(layers) == set(names)
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    for name, entry in layers.items():
        assert set(entry["moves"]) <= e2e, name
        assert set(entry["on"]) | set(entry["flat_on"]) <= set(workloads.WORKLOADS), name
        assert not set(entry["on"]) & set(entry["flat_on"]), name
    assert {w["name"] for w in BENCH["workloads"]} == set(workloads.WORKLOADS)
    queries = workloads.RELATIONAL + workloads.DEDUP_VECTORS
    assert {f"plans.exec_s.{q}" for q in queries} <= set(names)


def _run(args, cwd, timeout=170):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = _run(["--workload", "trips", "--seed", "1", "--seconds", "1"], tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(trace):
    proc = _run(
        ["--workload", "trips", "--seed", "2", "--seconds", "1", "--trace", str(trace)],
        ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    if trace:
        with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
            layers = json.load(fh)["metrics"]
        may_be_zero = {"trip_agg.spill_bytes", "host.steal_share"}
        for name, entry in layers.items():
            if "trips" in entry["on"] and name not in may_be_zero:
                assert result["metrics"][name]["value"] != 0, name
