"""Measurement plumbing shared by the workloads: percentiles, spans,
engine wrappers, Spark execution counters and process memory.

Nothing here imports the engine at module load; the workloads hand in
the modules and the session."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field


# --- statistics --------------------------------------------------------------


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float:
    """The ``q``-quantile (0 < q < 1) of ``values`` by linear interpolation
    between closest ranks, refusing a tail it cannot see: at least
    ``min_beyond`` samples must rank above the interpolation point."""
    if not 0 < q < 1:
        raise ValueError(f"q must be in (0, 1), got {q}")
    n = len(values)
    pos = q * (n - 1)
    lo = int(pos + 1e-9)  # pos is a float product; 0.5 * 18 must floor to 9
    if n == 0 or n - 1 - lo < min_beyond:
        raise TooFewSamples(f"p{q * 100:g} needs {min_beyond} samples beyond it; have {n}")
    s = sorted(values)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


def self_time(spans: list[Span], idx: int) -> float:
    """Span ``idx``'s duration minus the part of it its children cover
    (overlapping children are merged, children are clipped to the parent)."""
    sp = spans[idx]
    kids = sorted(
        (max(c.start, sp.start), min(c.end, sp.end))
        for c in spans
        if c.parent == idx
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (sp.end - sp.start) - covered


class Tracer:
    """Collects spans in memory.  A span opened on a thread with no open
    span of its own (a streaming ``foreachBatch`` callback) takes the
    innermost open span of the thread that created the tracer as parent.

    ``enabled`` gates recording, so a workload can alternate traced and
    untraced operations with the wrappers left installed."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self.enabled = False
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        start = time.perf_counter()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, start, start, parent, self.run_id))
            self.counts[name] += 1
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, rebind_prefix: str | None = None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper.  With
        ``rebind_prefix``, every loaded module under that package that
        bound the same function at import time is rebound too."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        targets = [owner]
        if rebind_prefix is not None:
            for mod_name, mod in list(sys.modules.items()):
                if mod is owner or not mod_name.startswith(rebind_prefix):
                    continue
                if any(v is orig for v in vars(mod).values()):
                    targets.append(mod)
        for tgt in targets:
            for key, val in list(vars(tgt).items()):
                if val is orig:
                    self._undo.append((tgt, key, val))
                    setattr(tgt, key, wrapper)

    def unwrap(self) -> None:
        for tgt, key, val in reversed(self._undo):
            setattr(tgt, key, val)
        self._undo.clear()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_total(self, name: str) -> float:
        return sum(self_time(self.spans, i) for i, s in enumerate(self.spans) if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# --- Spark execution counters ------------------------------------------------


def job_watermark(sc, start: int = 0) -> int:
    """The id the next Spark job will get: job ids are dense from 0, so
    walk the status tracker forward from a known-used id."""
    tracker = sc.statusTracker()
    i = start
    while tracker.getJobInfo(i) is not None:
        i += 1
    return i


def job_counts(sc, job_ids) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of ``job_ids``, from the status
    tracker."""
    tracker = sc.statusTracker()
    stages: set[int] = set()
    jobs = 0
    for j in sorted(job_ids):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        stages.update(info.stageIds)
    tasks = failed = ran = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue  # skipped stage (its shuffle output was reused)
        ran += 1
        tasks += st.numCompletedTasks + st.numFailedTasks
        failed += st.numFailedTasks
    return {"jobs": jobs, "stages": ran, "tasks": tasks, "failed_tasks": failed}


def event_log_totals(log_dir: str, jobs: set[int]) -> dict[str, float]:
    """Shuffle, spill, GC and executor run time of the tasks of ``jobs``,
    summed from the Spark event log (read after the session stopped)."""
    # Spark 4 rolls event logs by default (one directory per application);
    # the local file system adds hidden .crc files beside them
    files = sorted(os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names if not f.startswith((".", "appstatus")))
    stage_ids: set[int] = set()
    out = dict.fromkeys(
        ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "executor_run_s"), 0.0
    )
    tasks = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and ev["Job ID"] in jobs:
                    stage_ids.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid, m in tasks:
        if sid not in stage_ids:
            continue
        rd = m.get("Shuffle Read Metrics", {})
        out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    return out


# --- process memory ----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its launcher)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


@dataclass
class PeakRss:
    """Peak resident memory of this process plus its descendants, each
    taken from the kernel's high-water mark (VmHWM), summed."""

    peaks: dict[int, int] = field(default_factory=dict)

    def sample(self) -> None:
        for pid in [os.getpid(), *descendants(os.getpid())]:
            kb = _status_kb(pid, "VmHWM")
            if kb:
                self.peaks[pid] = max(self.peaks.get(pid, 0), kb)

    def mb(self) -> float:
        return sum(self.peaks.values()) / 1024.0

    def own_mb(self) -> float:
        """This (Python driver) process's share of :meth:`mb`."""
        return self.peaks.get(os.getpid(), 0) / 1024.0
