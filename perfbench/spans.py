"""Spans, wrappers and statistics for the benchmark.

A :class:`Tracer` keeps spans in memory: ``(id, parent, name, layer,
start, end)``. Every span also tags the Spark jobs it launches with a
job group (``pb-<id>``), so the Spark UI's job list attributes engine
work to the innermost span. Wrappers are installed on module attributes
(:meth:`Tracer.wrap`) before the modules that bind those names at import
time are imported. With tracing off the same ``span`` calls cost one
clock read each and set no job group.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import math
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = math.nan


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext, once a session exists

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, layer, time.monotonic())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self._set_group(parent.id if parent else None)

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if span_id is None else f"pb-{span_id}"
            )

    def wrap(self, module, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``module.attr`` with a spanning wrapper."""
        fn = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label, layer):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    # -- derived views ---------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def root_of(self) -> dict[int, int]:
        roots: dict[int, int] = {}
        for s in self.spans:  # parents precede children
            roots[s.id] = s.id if s.parent is None else roots[s.parent]
        return roots


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span], children: dict[int, list[Span]]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    out = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
        out[s.id] = (s.end - s.start) - union_length([k for k in kids if k[1] > k[0]])
    return out


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return math.nan
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs, beyond: int = 10):
    """The highest nearest-rank percentile with at least ``beyond``
    samples above it: ``(percentile, value, n)``; ``(None, None, n)``
    when there are too few samples to have one."""
    xs = sorted(xs)
    n = len(xs)
    rank = n - beyond  # 1-based rank of the value; `beyond` samples follow it
    if rank < 1:
        return None, None, n
    return round(100.0 * rank / n, 2), xs[rank - 1], n


def another_round(elapsed: float, rounds: int, seconds: float) -> bool:
    """Start another whole round (a pass, a request pair) only if, at
    the mean round time so far, it should end near ``seconds``."""
    return rounds == 0 or elapsed + elapsed / rounds / 2 < seconds


# ---------------------------------------------------------------------------
# engine measurements: driver JVM memory, Spark UI REST API
# ---------------------------------------------------------------------------


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by this process and every live descendant: the driver JVM and
    its Python workers. Time the host steals from a virtual machine is
    not counted, so per-op CPU stays steady where wall time does not."""
    root = root or os.getpid()
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while we looked
            continue
        rest = stat[stat.rindex(")") + 2 :].split()  # fields 3.. of proc(5)
        parent[int(d)] = int(rest[1])
        cpu[int(d)] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks
    return total / _CLK_TCK


def jvm_memory_mb(spark) -> dict[str, float]:
    """Driver JVM memory: ``peak_rss_mb`` (VmHWM) and
    ``heap_retained_mb`` (heap still live after a full GC: what the run
    left behind, such as caches never released). Both move with GC
    timing and Spark's job bookkeeping, so neither has a bound."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    return {"peak_rss_mb": hwm / 1024.0, "heap_retained_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str) -> float:
    t = dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


ENGINE_KEYS = (
    "jobs", "stages", "tasks", "job_s", "driver_s", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "slot_idle_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_records",
)


def engine_by_root(sc, tracer: Tracer, cores: int) -> dict[int, dict]:
    """Engine counters per root span (one op), from every job whose
    group names a span under that root."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages: dict[int, list] = {}
    for s in _get(f"{base}/stages?status=complete"):
        stages.setdefault(s["stageId"], []).append(s)
    roots = tracer.root_of()
    per: dict[int, dict] = {}
    intervals: dict[int, list] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if not group.startswith("pb-") or not j.get("completionTime"):
            continue
        root = roots.get(int(group[3:]))
        if root is None:
            continue
        m = per.setdefault(root, dict.fromkeys(ENGINE_KEYS, 0.0))
        a, b = _ts(j["submissionTime"]), _ts(j["completionTime"])
        intervals.setdefault(root, []).append((a, b))
        m["jobs"] += 1
        m["tasks"] += j.get("numCompletedTasks", 0)
        for sid in j["stageIds"]:
            for s in stages.get(sid, ()):
                m["stages"] += 1
                m["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                m["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                m["jvm_gc_s"] += s.get("jvmGcTime", 0) / 1e3
                m["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                m["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                m["spill_bytes"] += s.get("diskBytesSpilled", 0) + s.get("memoryBytesSpilled", 0)
                m["input_records"] += s.get("inputRecords", 0)
    by_id = {s.id: s for s in tracer.spans}
    for root, m in per.items():
        m["job_s"] = union_length(intervals[root])
        span = by_id[root]
        m["driver_s"] = (span.end - span.start) - m["job_s"]
        m["slot_idle_s"] = m["job_s"] * cores - m["executor_run_s"]
    return per
