"""Per-layer instrumentation for traced runs (``--trace 1``).

Three sources, none of which changes an engine file:

- **Spans.** ``Tracer.install`` wraps every public function of every
  package module and rebinds each ``from … import`` alias of it in the
  loaded modules (``__spark_entry__``'s ``load_star``, the operators'
  ``fan_out_scan``, …). A span's *self* time is its duration minus the
  spans it called on the same thread. Spans opened on pool threads have
  no parent there; ops never overlap, so they are attributed to the op
  whose window contains them.
- **Spark's event log.** ``parse_event_log`` reads the JSON-lines log
  that ``spark.eventLog.enabled`` writes and keeps jobs, stages, tasks
  and the SQL metric ids of Python-evaluation plan nodes.
- **/proc.** CPU seconds, peak RSS and write bytes of the driver, its
  JVM and the JVM's Python workers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Callable

PKG = "jobanalytics_bigdataproject_spark"


def layer_of(module: str) -> str:
    """``…sources.readers`` → ``sources.readers``, ``…operators.dedup`` →
    ``operators.dedup``; every other subpackage is one layer (``ml``,
    ``functions``, ``streaming``, ``session``, …)."""
    rest = module[len(PKG) + 1:] if module.startswith(PKG + ".") else module
    head, _, tail = rest.partition(".")
    if head in ("sources", "operators") and tail:
        return f"{head}.{tail.partition('.')[0]}"
    return head


@dataclass
class Span:
    layer: str
    thread: int
    t0: float
    t1: float
    self_s: float
    entered: bool  # the caller was outside this layer (counts as a call)


@dataclass
class Tracer:
    """Span recorder. ``enabled`` gates recording; ``activate`` and
    ``deactivate`` swap the wrappers in and out so an untraced window
    runs the original functions."""

    clock: Callable[[], float] = time.time
    enabled: bool = False
    spans: list = field(default_factory=list)
    _patches: list = field(default_factory=list)
    _wrappers: dict = field(default_factory=dict)
    _local: threading.local = field(default_factory=threading.local)

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            entered = not stack or stack[-1][0] != layer
            frame = [layer, 0.0]
            stack.append(frame)
            t0 = tracer.clock()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = tracer.clock()
                stack.pop()
                if stack:
                    stack[-1][1] += t1 - t0
                tracer.spans.append(Span(
                    layer, threading.get_ident(), t0, t1, t1 - t0 - frame[1], entered
                ))

        traced.__perfbench_original__ = fn
        return traced

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def install(self) -> None:
        """Wrap every public function of every package module and rebind
        its aliases. Call before importing ``__spark_entry__``, then call
        ``rebind([entry_module])`` so its own imported names are tracked
        for ``deactivate``."""
        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)
        self._wrappers = {}
        for mod in self._package_modules():
            layer = layer_of(mod.__name__)
            for name, obj in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and not hasattr(obj, "__perfbench_original__")
                ):
                    self._wrappers[obj] = self.wrap(obj, layer)
        self.rebind()

    def rebind(self, extra_modules=()) -> None:
        """Point every alias of a wrapped function in the package modules
        and ``extra_modules`` at its wrapper."""
        patched = {(id(m), a) for m, a, _, _ in self._patches}
        for mod in [*self._package_modules(), *extra_modules]:
            for name, obj in list(vars(mod).items()):
                if not inspect.isfunction(obj) or (id(mod), name) in patched:
                    continue
                original = getattr(obj, "__perfbench_original__", obj)
                if original in self._wrappers:
                    self._patches.append((mod, name, original, self._wrappers[original]))
        self.activate()

    @staticmethod
    def _package_modules():
        return [m for n, m in list(sys.modules.items())
                if m is not None and (n == PKG or n.startswith(PKG + "."))]

    def activate(self) -> None:
        for mod, name, _, wrapper in self._patches:
            setattr(mod, name, wrapper)
        self.enabled = True

    def deactivate(self) -> None:
        self.enabled = False
        for mod, name, original, _ in self._patches:
            setattr(mod, name, original)


def layer_totals(spans, windows) -> tuple[dict[str, float], Counter]:
    """Self seconds and entering calls per layer, over spans that start
    inside one of the op ``windows`` ([(t0, t1), …]). Pool-thread spans
    count like any other: they are roots on their own thread, so their
    self time is their duration minus their own children."""
    self_s: dict[str, float] = defaultdict(float)
    calls: Counter = Counter()
    for s in spans:
        if any(a <= s.t0 <= b for a, b in windows):
            self_s[s.layer] += s.self_s
            calls[s.layer] += s.entered
    return dict(self_s), calls


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# plan nodes whose rows cross the JVM/Python boundary
_PYTHON_NODES = ("Python", "Pandas", "Arrow")
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)      # job id -> {start, end, stages}
    submitted: set = field(default_factory=set)   # stage ids that ran
    tasks: list = field(default_factory=list)     # per-task dicts
    python_row_ids: set = field(default_factory=set)  # accumulator ids


def _walk_plan(node: dict, out: set) -> None:
    name = node.get("nodeName", "")
    if any(k in name for k in _PYTHON_NODES):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                log.jobs[jid] = {"start": ev["Submission Time"], "end": None,
                                 "stages": list(ev.get("Stage IDs", []))}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                log.submitted.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task(ev, stage_job.get(ev["Stage ID"])))
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev.get("sparkPlanInfo", {}), log.python_row_ids)
    return log


def _task(ev: dict, job) -> dict:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    run, deser = m.get("Executor Run Time", 0), m.get("Executor Deserialize Time", 0)
    ser = m.get("Result Serialization Time", 0)
    fetch = finish - getting if getting else 0
    accums = defaultdict(int)
    for a in info.get("Accumulables", []):
        try:
            accums[(a.get("ID"), a.get("Name"))] += int(a.get("Update", 0))
        except (TypeError, ValueError):
            continue
    return {
        "job": job,
        "run_ms": run,
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "delay_ms": max(0, finish - launch - run - deser - ser - fetch),
        "records_in": m.get("Input Metrics", {}).get("Records Read", 0)
        + sr.get("Total Records Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "accums": dict(accums),
    }


def scheduler_totals(log: EventLog, job_ids) -> dict[str, float]:
    """Scheduler, executor, shuffle and Arrow counters of ``job_ids``."""
    jobs = set(job_ids)
    stages = [s for j in jobs for s in log.jobs[j]["stages"]]
    tasks = [t for t in log.tasks if t["job"] in jobs]
    out = {
        "scheduler.jobs": len(jobs),
        "scheduler.stages": sum(1 for s in stages if s in log.submitted),
        "scheduler.stages_skipped": sum(1 for s in stages if s not in log.submitted),
        "scheduler.tasks": len(tasks),
        "scheduler.delay_ms": sum(t["delay_ms"] for t in tasks),
        "scheduler.empty_task_share": (
            sum(1 for t in tasks if t["records_in"] == 0) / len(tasks) if tasks else 0.0
        ),
        "executor.run_ms": sum(t["run_ms"] for t in tasks),
        "executor.cpu_ms": sum(t["cpu_ms"] for t in tasks),
        "executor.gc_ms": sum(t["gc_ms"] for t in tasks),
        "shuffle.read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "shuffle.write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "shuffle.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "arrow.bytes_to_python": 0,
        "arrow.bytes_from_python": 0,
        "arrow.rows_from_python": 0,
    }
    for t in tasks:
        for (aid, name), v in t["accums"].items():
            if name == _TO_PY:
                out["arrow.bytes_to_python"] += v
            elif name == _FROM_PY:
                out["arrow.bytes_from_python"] += v
            elif aid in log.python_row_ids:
                out["arrow.rows_from_python"] += v
    return out


def jobs_in(log: EventLog, windows) -> dict[int, list[int]]:
    """Job ids per op window (index into ``windows``), by submission time.
    Windows are epoch seconds; the log is epoch milliseconds."""
    out: dict[int, list[int]] = defaultdict(list)
    for jid, job in log.jobs.items():
        t = job["start"] / 1000.0
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                out[i].append(jid)
                break
    return out


def nojob_seconds(log: EventLog, windows, per_window: dict) -> float:
    """Op wall time not covered by any of the op's Spark jobs."""
    total = 0.0
    for i, (a, b) in enumerate(windows):
        spans = []
        for jid in per_window.get(i, []):
            job = log.jobs[jid]
            end = job["end"] / 1000.0 if job["end"] else b
            spans.append((max(a, job["start"] / 1000.0), min(b, end)))
        total += (b - a) - union_length(spans)
    return total


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> list[int]:
    """``root``'s live descendant pids."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children[int(st[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            total += int(st[11]) + int(st[12])  # utime + stime
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    return sum(_status_kb(p, "VmHWM:") for p in pids) / 1024.0


def write_bytes(pids) -> int:
    """Bytes the processes sent to the storage layer (``write_bytes``)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("write_bytes:"))
        except (OSError, StopIteration):
            continue
    return total
