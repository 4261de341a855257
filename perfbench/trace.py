"""Tracing for the benchmark's traced run, all from outside the program.

* ``Tracer`` keeps spans in memory around calls into the engine's public
  functions, by replacing the module or class attribute with a timing
  wrapper for the length of the traced run.
* ``EventLog`` reads the task metrics Spark writes to its event log (an
  uncompressed, non-rolling log, enabled only for the traced session) and
  attributes each stage to the benchmark phase that submitted it.
* ``WorkerRss`` samples ``/proc`` for the resident memory of the Python
  workers Spark forks (``psutil`` is not available).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PHASE_PROPERTY = "perfbench.phase"


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    run_id: str


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span | None] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = Span(name, start, end, parent, self.run_id)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def record(self, name: str, start: float, end: float) -> None:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, start, end, parent, self.run_id))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def total_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s and s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s and s.name == name)


def _descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children[ppid].append(int(entry))
    out, todo = set(), [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.add(child)
            todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _is_python_worker(pid: int) -> bool:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return b"pyspark.daemon" in fh.read()


class WorkerRss:
    """Peak summed RSS of this process's Spark Python workers, sampled
    every ``interval`` seconds on a background thread while active."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        total = 0
        for pid in _descendants(os.getpid()):
            try:
                if _is_python_worker(pid):
                    total += _rss_bytes(pid)
            except OSError:  # the process ended between listing and reading
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> WorkerRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def _plan_metric_ids(plan: dict, node: str, into: dict[str, set[int]]) -> None:
    if plan.get("nodeName") == node:
        for m in plan.get("metrics", []):
            into[m["name"]].add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, node, into)


@dataclass
class StageRecord:
    phase: str | None
    accumulables: dict[int, int]
    tasks: list[dict]


class EventLog:
    """Task and SQL metrics from one application's event log."""

    def __init__(self, path: str) -> None:
        self.stages: dict[tuple[int, int], StageRecord] = {}
        self.python_ids: dict[str, set[int]] = defaultdict(set)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metric_ids(e["sparkPlanInfo"], "MapInPandas", self.python_ids)
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            phase = (e.get("Properties") or {}).get(PHASE_PROPERTY)
            self.stages[key] = StageRecord(phase, {}, [])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            rec = self.stages.get((info["Stage ID"], info["Stage Attempt ID"]))
            if rec is not None:
                # SQL metric values are written as strings
                rec.accumulables = {
                    a["ID"]: int(a["Value"])
                    for a in info.get("Accumulables", [])
                    if str(a.get("Value", "")).lstrip("-").isdigit()
                }
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            rec = self.stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if rec is not None:
                rec.tasks.append(e["Task Metrics"])

    def _stages(self, phases: set[str]) -> list[StageRecord]:
        return [s for s in self.stages.values() if s.phase in phases]

    def python_metric(self, phases: set[str], name: str) -> int:
        """Sum of one MapInPandas SQL metric over the phases' stages."""
        ids = self.python_ids.get(name, set())
        return sum(
            v for s in self._stages(phases) for i, v in s.accumulables.items() if i in ids
        )

    def task_metrics(self, phases: set[str]) -> dict[str, float]:
        tasks = [t for s in self._stages(phases) for t in s.tasks]
        py_ids = set().union(*self.python_ids.values()) if self.python_ids else set()
        # the tasks that ran the Python UDF: their stage carries its metrics
        py_tasks = [
            t
            for s in self._stages(phases)
            if py_ids & s.accumulables.keys()
            for t in s.tasks
        ]
        rows = [
            t["Input Metrics"]["Records Read"]
            + t["Shuffle Read Metrics"]["Total Records Read"]
            for t in py_tasks
        ]
        run_s = [t["Executor Run Time"] / 1e3 for t in py_tasks]
        return {
            "tasks": len(tasks),
            "executor_run_s": sum(t["Executor Run Time"] for t in tasks) / 1e3,
            "jvm_gc_s": sum(t["JVM GC Time"] for t in tasks) / 1e3,
            "spill_bytes": sum(
                t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"] for t in tasks
            ),
            "shuffle_write_bytes": sum(
                t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks
            ),
            "shuffle_read_bytes": sum(
                t["Shuffle Read Metrics"]["Local Bytes Read"]
                + t["Shuffle Read Metrics"]["Remote Bytes Read"]
                for t in tasks
            ),
            "task_rows_max_over_median": _max_over_median(rows),
            "task_s_max_over_median": _max_over_median(run_s),
        }


def _max_over_median(values: list[float]) -> float:
    """Largest value over the median.  Zeros (tasks of empty splits) are
    left out, so the median is over tasks that did work."""
    busy = [v for v in values if v > 0]
    if not busy:
        return 0.0
    return max(busy) / statistics.median(busy)
