"""Measurement helpers: host counters, spans, Spark stage metrics.

All of these observe the program from outside: ``/proc`` for CPU steal
and peak memory, wall-clock spans around calls into the library, and
Spark's own status stores for what ran inside the Python stages.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np


# ------------------------------------------------------------------ host


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Host CPU steal between two ``cpu_jiffies`` readings, in percent."""
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def own_peak_rss_mb() -> float:
    """VmHWM of this process (the Python side of the Spark driver), in MB."""
    return _status_kb(os.getpid(), "VmHWM") / 1024.0


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the parent pid follows ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, stack = [], [pid]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_pids() -> list[int]:
    """PySpark daemon and worker processes started under this process
    (the JVM's command line names ``pyspark-shell``, not these)."""
    return [
        p for p in descendants(os.getpid())
        if any(m in _cmdline(p) for m in ("pyspark.daemon", "pyspark.worker"))
    ]


class WorkerPeak:
    """VmHWM of every Python worker seen, by pid. Workers are forked per
    task and may exit, so sample after every step."""

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in python_worker_pids():
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _status_kb(pid, "VmHWM"))


def quantile(values, q: float) -> float:
    """Linearly interpolated quantile, q in [0, 1]."""
    return float(np.percentile(values, 100.0 * q))


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: name, start, end and the parent span's id; spans
    of one step share that step's id. Off by default: a disabled tracer
    records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.step = None

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (
                    child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        if self.tracer.enabled:
            self.id = len(self.tracer.spans)
            self.parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.tracer._stack.append(self.id)
            self.tracer.spans.append(None)
            self.start = time.perf_counter() - self.tracer._t0
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            end = time.perf_counter() - self.tracer._t0
            self.tracer._stack.pop()
            self.tracer.spans[self.id] = {
                "id": self.id, "name": self.name, "parent": self.parent,
                "step": self.tracer.step, "start": self.start, "end": end,
                **self.attrs,
            }
        return False


# ---------------------------------------------------------- spark stores

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it: '1,218', '10.2 MiB',
    '2.2 s', or 'total (min, med, max ...)\\n<total> (...)'. Sizes come
    back in bytes, timings in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1)


class SparkMetrics:
    """Reads what Spark recorded for the SQL executions started since
    the last ``mark()``: per plan node metrics from the SQL status store
    (works with the UI disabled) and per stage task data from the app
    status store."""

    def __init__(self, spark) -> None:
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._max_execution()

    def _max_execution(self) -> int:
        it = self.sql.executionsList().iterator()
        top = -1
        while it.hasNext():
            top = max(top, it.next().executionId())
        return top

    def mark(self) -> None:
        self._seen = self._max_execution()

    def collect(self) -> dict:
        """{'nodes': [(node name, metric name, value)], 'stages': [...]}
        for executions newer than the mark; then moves the mark."""
        nodes, stage_ids = [], set()
        it = self.sql.executionsList().iterator()
        top = self._seen
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._seen:
                continue
            top = max(top, eid)
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid).allNodes().iterator()
            while graph.hasNext():
                node = graph.next()
                mets = node.metrics().iterator()
                while mets.hasNext():
                    metric = mets.next()
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        nodes.append(
                            (node.name(), metric.name(), parse_metric(value.get()))
                        )
            sit = ex.stages().iterator()
            while sit.hasNext():
                stage_ids.add(int(sit.next()))
        self._seen = top
        stages = []
        for sid in sorted(stage_ids):
            try:
                sd = self.app.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            tasks = self.app.taskList(sid, sd.attemptId(), 100000)
            durations = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durations.append(int(d.get()) / 1000.0)
            stages.append({
                "stage": sid,
                "tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1000.0,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_write_records": sd.shuffleWriteRecords(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "task_s": durations,
            })
        return {"nodes": nodes, "stages": stages}


def node_sum(collected: dict, node: str, metric: str) -> float:
    return sum(v for n, m, v in collected["nodes"] if n == node and m == metric)


def storage_bytes_held(spark) -> int:
    """Bytes of persisted RDD blocks (memory and disk) still held."""
    held = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        held += info.memSize() + info.diskSize()
    return held
