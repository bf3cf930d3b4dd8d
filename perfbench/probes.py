"""Readers for the numbers Spark and the host already keep.

- ``job_group_totals``: per job group, the stage metrics from the Spark
  context's status store (``statusStore().lastStageAttempt``) and the task list, for
  jobs, stages, tasks, executor run/CPU/GC time, shuffle and spill bytes
  and the largest task's share of its stage.
- ``sql_metrics_since``: the SQL status store's ``executionMetrics`` for
  every execution started after a mark, summed by plan node and metric
  (rows, Python bytes, Python worker start time).
- ``peak_rss_mb``: resident high-water marks of this process and every
  process it started (the Spark JVM and its Python workers).
- ``CpuSample``: steal share from ``/proc/stat`` and the 1-minute load.
"""

from __future__ import annotations

import os
import re
import signal
import time
from dataclasses import dataclass

from py4j.protocol import Py4JError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A SQL metric as the status store formats it -> number (bytes for
    sizes, ms for timings). Multi-task metrics read
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"``; the total is the
    first value on the last line."""
    line = text.strip().splitlines()[-1] if text.strip() else ""
    m = _NUM.match(line.strip())
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    input_records: float = 0.0
    largest_task_ms: float = 0.0  # summed over multi-task stages
    multi_task_run_ms: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def job_group_totals(spark, group: str, task_detail: bool = True) -> StageTotals:
    """Sum the stage metrics of every job run under ``group``. Stages
    skipped because a shuffle was reused have no attempt and count as
    nothing."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = StageTotals()
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in list(info.stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JError:  # the stage never ran (skipped)
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += sd.numCompleteTasks()
            out.run_ms += sd.executorRunTime()
            out.cpu_ns += sd.executorCpuTime()
            out.gc_ms += sd.jvmGcTime()
            out.shuffle_read += sd.shuffleReadBytes()
            out.shuffle_write += sd.shuffleWriteBytes()
            out.spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out.input_records += sd.inputRecords()
            if task_detail and sd.numCompleteTasks() > 1:
                tl = store.taskList(sid, sd.attemptId(), 100_000)
                runs = []
                for i in range(tl.size()):
                    tm = tl.apply(i).taskMetrics()
                    if tm.isDefined():
                        runs.append(tm.get().executorRunTime())
                if runs:
                    out.largest_task_ms += max(runs)
                    out.multi_task_run_ms += sum(runs)
    return out


def sql_execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def sql_metrics_since(spark, mark: int) -> dict[tuple[str, str], float]:
    """Sum the SQL metrics of executions ``mark..now`` by (plan node name,
    metric name), e.g. ``("Filter", "number of output rows")``."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    totals: dict[tuple[str, str], float] = {}
    if n <= mark:
        return totals
    execs = store.executionsList(mark, n - mark)
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        names = {}
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            ms = node.metrics()
            for k in range(ms.size()):
                names[ms.apply(k).accumulatorId()] = (node.name().strip(), ms.apply(k).name())
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            key = names.get(kv._1())
            value = parse_metric(kv._2()) if key else None
            if value is not None:
                totals[key] = totals.get(key, 0.0) + value
    return totals


def metric_sum(metrics: dict[tuple[str, str], float], *names: str, node: str = "") -> float:
    """Sum of the named metrics over nodes whose name starts with ``node``."""
    return sum(
        v for (n, m), v in metrics.items() if m in names and n.startswith(node)
    )


def python_bytes(metrics: dict[tuple[str, str], float]) -> float:
    return metric_sum(
        metrics, "data sent to Python workers", "data returned from Python workers"
    )


def python_start_ms(metrics: dict[tuple[str, str], float]) -> float:
    return metric_sum(
        metrics, "time to start Python workers", "time to initialize Python workers"
    )


def storage_bytes(spark) -> float:
    """Memory plus disk held by persisted RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


# the JVM's JIT compiler threads, as /proc names them (cut to 15 chars)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _process_tree(root: int) -> set[int]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(f"/proc/{d}/stat")[1])
        except (OSError, IndexError):
            continue  # the process exited while we listed
        kids.setdefault(ppid, []).append(int(d))
    tree: set[int] = set()
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in tree:
            tree.add(pid)
            stack.extend(kids.get(pid, []))
    return tree


def descendants(root: int) -> set[int]:
    return _process_tree(root) - {root}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until none of ``pids`` runs; kill what is left at the deadline
    (the JVM's Python workers end shortly after the JVM)."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() >= deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.5)
            return
        time.sleep(0.05)


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by ``root`` and every live
    descendant, including the children they have reaped, and the part of
    it the JVM's JIT compiler threads used. The difference of two readings
    is the tree's CPU time between them, Python workers that came and went
    included. Time the host stole is not in it."""
    ticks = jit = 0
    for pid in _process_tree(root):
        try:
            ticks += sum(int(v) for v in _stat_fields(f"/proc/{pid}/stat")[11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited since the tree was listed
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(JIT_THREADS):
                        continue
                jit += sum(int(v) for v in _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
            except OSError:
                continue
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def peak_rss_mb(root: int) -> float:
    """Sum of the resident high-water marks (``VmHWM``) of ``root`` and
    every descendant alive now: this Python process, the JVM, the Python worker
    daemon and reused workers. Workers forked for one task and gone are not
    counted; their pages are mostly shared with the daemon."""
    total_kb = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # exited since the tree was listed
    return total_kb / 1024


@dataclass
class CpuSample:
    """``/proc/stat`` totals at one instant."""

    total: int = 0
    steal: int = 0
    load1: float = 0.0

    @classmethod
    def now(cls) -> "CpuSample":
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return cls(sum(vals), vals[7] if len(vals) > 7 else 0, os.getloadavg()[0])

    def steal_share_until(self, later: "CpuSample") -> float:
        d = later.total - self.total
        return (later.steal - self.steal) / d if d > 0 else 0.0
