"""Measurement helpers that observe the program from outside.

- ``ProcTree``: CPU seconds and peak resident memory of every process this
  benchmark started (the Spark JVM and its Python workers), read from
  ``/proc``.
- ``event_log_profile``: per-job-group Spark executor metrics summarized
  from an uncompressed, non-rolling Spark event log with stdlib ``json``.
- ``StageTimer``: wraps sink factories the program looks up at call time,
  so each returned sink records how long every call took.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cpu() -> tuple[int, int]:
    """(all ticks, steal ticks) summed over the host's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcTree:
    """CPU and RSS of this process's descendants, sampled in a thread.

    CPU counts utime+stime plus the reaped children's cutime+cstime of
    every live descendant, so a Python worker that exited is still counted
    through the process that waited for it.
    """

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def cpu_s() -> float:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])
        return total / _TICK

    @staticmethod
    def rss_mb() -> float:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * _PAGE / 2**20

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss_mb = max(self.peak_rss_mb, self.rss_mb())

    def __enter__(self) -> "ProcTree":
        self.peak_rss_mb = self.rss_mb()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss_mb = max(self.peak_rss_mb, self.rss_mb())


SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "single_task_stages",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
    "task_skew.max",
)


def event_log_profile(log_dir: str, groups) -> dict[str, dict]:
    """Executor metrics per job group (one of ``groups``) from the newest
    event log in log_dir."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    path = max(logs, key=os.path.getmtime)
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    acc = {g: dict.fromkeys(SPARK_KEYS, 0.0) for g in groups}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g in acc:
                    acc[g]["jobs"] += 1
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                a = acc[g]
                run_s = m["Executor Run Time"] / 1e3
                stage_tasks.setdefault(ev["Stage ID"], []).append(run_s)
                a["tasks"] += 1
                a["executor_run_s"] += run_s
                a["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                a["gc_s"] += m["JVM GC Time"] / 1e3
                a["input_mb"] += m["Input Metrics"]["Bytes Read"] / 2**20
                sr = m["Shuffle Read Metrics"]
                a["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 2**20
                a["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                a["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
                a["output_mb"] += m["Output Metrics"]["Bytes Written"] / 2**20
    for s, times in stage_tasks.items():
        a = acc[stage_group[s]]
        a["stages"] += 1
        if len(times) == 1:
            a["single_task_stages"] += 1
        med = statistics.median(times)
        if med > 0:
            a["task_skew.max"] = max(a["task_skew.max"], max(times) / med)
    return acc


class StageTimer:
    """Times every call of the sinks built by wrapped factories.

    ``wrap(module, attr, name)`` replaces ``module.attr`` (a factory that
    returns a ``(df, batch_id)`` callable) for the life of the timer; each
    sink call appends ``(name, start, end)`` to ``spans``.
    """

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _timed_sink(self, name, sink):
        @functools.wraps(sink)
        def call(*a, **kw):
            t0 = time.perf_counter()
            try:
                return sink(*a, **kw)
            finally:
                with self._lock:
                    self.spans.append((name, t0, time.perf_counter()))

        return call  # functools.wraps also copies the sink's close hook

    def wrap(self, module, attr: str, name: str) -> None:
        factory = getattr(module, attr)
        self._saved.append((module, attr, factory))

        @functools.wraps(factory)
        def build(*a, **kw):
            return self._timed_sink(name, factory(*a, **kw))

        setattr(module, attr, build)

    def restore(self) -> None:
        for module, attr, factory in reversed(self._saved):
            setattr(module, attr, factory)
        self._saved.clear()

    def take(self) -> list[tuple[str, float, float]]:
        with self._lock:
            out, self.spans = self.spans, []
        return out
