"""Measurement helpers: spans, Spark's event log, process memory, host load.

Everything here observes the engine from outside: spans wrap calls into the
engine's public functions, the event log is Spark's own record of jobs,
stages and tasks, and memory is read from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once at
    the end of the run. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (e.g. a sink write on the stream thread)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                               "run_id": self.run_id, "start": start, "end": end, **attrs})

    def total(self, name: str) -> float:
        """Summed duration in seconds of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


# ---------------------------------------------------------------- event log

_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _plan_metric_types(info: dict, types: dict, py_rows: set) -> None:
    """Walk a SparkPlanInfo tree: remember each SQL metric's type (size,
    timing, nsTiming) and the output-row counters of Python exec nodes."""
    python_node = any(m in info.get("nodeName", "") for m in _PY_NODE_MARKERS)
    for m in info.get("metrics", []):
        types[m["accumulatorId"]] = m.get("metricType", "sum")
        if python_node and m["name"] == "number of output rows":
            py_rows.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_types(child, types, py_rows)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


class EventLog:
    """Totals per job group and per streaming batch from Spark's
    uncompressed, non-rolling JSON event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.stage_max_task_ms: dict[int, int] = defaultdict(int)
        metric_types: dict[int, str] = {}
        py_rows: set[int] = set()
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "start": e["Submission Time"],
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    sid = e["Stage ID"]
                    self.stage_max_task_ms[sid] = max(
                        self.stage_max_task_ms[sid], tm.get("Executor Run Time", 0))
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    self.stages[si["Stage ID"]] = {
                        "tasks": si["Number of Tasks"],
                        "acc": [(a["ID"], a["Name"], a.get("Value", 0))
                                for a in si.get("Accumulables", [])],
                    }
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_types(e["sparkPlanInfo"], metric_types, py_rows)
        self.metric_types = metric_types
        self.py_rows = py_rows

    def totals(self, job_ids) -> dict:
        """Layer totals over a set of jobs."""
        t = defaultdict(float)
        floors = []
        for jid in job_ids:
            job = self.jobs[jid]
            t["jobs"] += 1
            done = [s for s in job["stages"] if s in self.stages]
            crit_ms = sum(self.stage_max_task_ms.get(s, 0) for s in done)
            if "end" in job:
                floors.append(job["end"] - job["start"] - crit_ms)
            for sid in done:
                st = self.stages[sid]
                t["stages"] += 1
                t["tasks"] += st["tasks"]
                for acc_id, name, value in st["acc"]:
                    self._add(t, acc_id, name, float(value or 0))
        t["job_floor_ms"] = median(floors)
        return dict(t)

    def _add(self, t, acc_id: int, name: str, v: float) -> None:
        internal = {
            "internal.metrics.executorRunTime": ("executor.run_s", 1e-3),
            "internal.metrics.executorCpuTime": ("executor.cpu_s", 1e-9),
            "internal.metrics.jvmGCTime": ("executor.gc_s", 1e-3),
            "internal.metrics.shuffle.write.bytesWritten": ("shuffle.write_mb", 1e-6),
            "internal.metrics.shuffle.read.localBytesRead": ("shuffle.read_mb", 1e-6),
            "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle.read_mb", 1e-6),
            "internal.metrics.diskBytesSpilled": ("shuffle.spill_mb", 1e-6),
        }
        if name in internal:
            key, scale = internal[name]
            t[key] += v * scale
            return
        mtype = self.metric_types.get(acc_id, "sum")
        if name == "time to run Python workers":
            t["python.total_s"] += _seconds(v, mtype)
        elif name in ("time to start Python workers", "time to initialize Python workers"):
            t["python.boot_s"] += _seconds(v, mtype)
        elif name == "data sent to Python workers":
            t["python.sent_mb"] += v * 1e-6
        elif name == "data returned from Python workers":
            t["python.received_mb"] += v * 1e-6
        elif name == "number of output rows" and acc_id in self.py_rows:
            t["python.rows_received"] += v

    def group_jobs(self, group: str) -> list[int]:
        return [j for j, job in self.jobs.items() if job["group"] == group]

    def batch_jobs(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for j, job in self.jobs.items():
            if job["batch"] is not None:
                out[int(job["batch"])].append(j)
        return out


# ------------------------------------------------------------ process memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (the driver JVM and its Python workers)."""
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Samples the summed resident memory of a process tree until stopped."""

    def __init__(self, root: int, interval_s: float = 0.25):
        super().__init__(daemon=True)
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in process_tree(self.root)))
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / 1e6


# ----------------------------------------------------------------- host load

def host_load() -> dict:
    """Load average and cumulative CPU jiffies (for the steal share)."""
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "load5": load5, "load15": load15,
            "jiffies_total": sum(cpu), "jiffies_steal": cpu[7] if len(cpu) > 7 else 0}


def steal_share(before: dict, after: dict) -> float:
    total = after["jiffies_total"] - before["jiffies_total"]
    return (after["jiffies_steal"] - before["jiffies_steal"]) / total if total else 0.0
