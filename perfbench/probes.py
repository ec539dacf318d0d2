"""Measurement helpers: process-tree CPU and memory from ``/proc``,
layer spans, and Spark event-log totals per job group."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed it
            continue
        pid = int(stat.split("/")[2])
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants: the harness, the JVM it
    launched and the JVM's Python daemon and workers."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat(pid: int) -> tuple[float, int] | None:
    """(user+system CPU s including reaped children, RSS bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _CLK, int(fields[21]) * _PAGE


class TreeMonitor:
    """CPU seconds and peak RSS of this process's tree.

    CPU of a worker that exits moves into its parent's ``cutime`` when
    reaped, so summing utime+stime+cutime+cstime over the live tree
    keeps it. A background thread samples the summed RSS every 0.2 s
    while ``sampling`` is set."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self._sampling = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def cpu_s(self) -> float:
        return sum(s[0] for s in map(_stat, process_tree(self.root)) if s)

    def rss(self) -> int:
        return sum(s[1] for s in map(_stat, process_tree(self.root)) if s)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._sampling.wait(0.2):
                self.peak_rss = max(self.peak_rss, self.rss())
                time.sleep(0.2)

    @contextmanager
    def sampling(self):
        self._sampling.set()
        try:
            yield
        finally:
            self._sampling.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Spans around the public layer calls. Each span also tags the
    Spark jobs it starts with a job group named after the span, so the
    event log can be split the same way."""

    def __init__(self, spark, pass_id: int):
        self.sc = spark.sparkContext
        self.pass_id = pass_id
        self.spans: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(f"{layer}#{self.pass_id}", layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[layer] = self.spans.get(layer, 0.0) + time.perf_counter() - t0
            self.sc.setJobGroup(f"untraced#{self.pass_id}", "untraced")


# raw event-log units (ns, ms, bytes) -> the metric's unit
EVENT_SCALE = {
    "task_cpu_s": 1e-9,
    "gc_s": 1e-3,
    "shuffle_write_mb": 1e-6,
    "shuffle_read_mb": 1e-6,
    "fetch_wait_s": 1e-3,
}


def _task_totals(m: dict) -> dict[str, int]:
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "task_cpu_s": m.get("Executor CPU Time", 0),
        "gc_s": m.get("JVM GC Time", 0),
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_mb": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0),
    }


def event_log_totals(log_dir: str) -> dict[tuple[str, int], dict[str, int]]:
    """Per (layer, pass) raw totals of task CPU, GC, shuffle bytes and
    shuffle fetch wait, from every event log under ``log_dir``. Tasks
    count toward the job group of their stage."""
    out: dict[tuple[str, int], dict[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        stage_group: dict[int, str] = {}  # stage ids restart per application
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    metrics = ev.get("Task Metrics")
                    if "#" not in group or not metrics:
                        continue
                    layer, pass_id = group.rsplit("#", 1)
                    acc = out.setdefault((layer, int(pass_id)), dict.fromkeys(EVENT_SCALE, 0))
                    for field, value in _task_totals(metrics).items():
                        acc[field] += value
    return out


def reference_s() -> float:
    """Best of three runs of a fixed single-core NumPy + Python kernel:
    the host's speed right now, taken between passes while Spark idles."""
    import numpy as np

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a = np.random.default_rng(0).random(500_000)
        a.sort()
        s = 0
        for i in range(200_000):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return best
