"""Spans around calls into the engine, and Spark's own counters from the
event log, attributed to those spans.

A span is timed in the benchmark's own code around one call into a
module's public function. While tracing, the span's name is also the
Spark job group of every job the call starts, so the event log's task
counters can be summed per span afterwards. Spans live in memory; the
event log is parsed once, after the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """Records (name, seconds) spans; given a SparkContext it also tags
    the Spark jobs a span starts with the span's name as their job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[tuple[str, float]] = []
        self._open: list[str] = []

    def _tag(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block; jobs it starts belong to the innermost span."""
        if self.sc is not None:
            self._tag(name)
        self._open.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, time.perf_counter() - t0))
            self._open.pop()
            if self.sc is not None:
                self._tag(self._open[-1] if self._open else None)

    def times(self, name: str) -> list[float]:
        return [s for n, s in self.spans if n == name]

    def median(self, name: str) -> float:
        t = self.times(name)
        return statistics.median(t) if t else 0.0


class GroupStats:
    """Task counters summed over every task of one job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.spill_bytes = 0
        self.input_bytes = 0
        self.output_bytes = 0
        self.shuffle_write_bytes = 0
        self.peak_exec_bytes = 0
        self.peak_heap_bytes = 0  # JVM heap in use, executor peak
        # SQL metrics (task accumulables), summed by display name
        self.sql: dict[str, float] = defaultdict(float)
        # stage id -> task durations (ms), for skew
        self.stage_tasks: dict[int, list[int]] = defaultdict(list)

    def task_skew(self) -> float:
        """max / median task duration of the worst stage that ran more
        than one task (1.0 when every stage ran a single task)."""
        worst = 1.0
        for durs in self.stage_tasks.values():
            if len(durs) > 1:
                med = statistics.median(durs)
                worst = max(worst, max(durs) / med if med > 0 else 1.0)
        return worst


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Job-group name -> GroupStats, from one uncompressed Spark event
    log (JSON lines). Jobs without a group are filed under ''."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[g].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.stage_tasks[ev["Stage ID"]].append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
                g.run_ms += m.get("Executor Run Time", 0)
                g.cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g.peak_exec_bytes = max(
                    g.peak_exec_bytes, m.get("Peak Execution Memory", 0)
                )
                g.peak_heap_bytes = max(
                    g.peak_heap_bytes,
                    (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0),
                )
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name", "")
                    if not name.startswith("internal."):
                        g.sql[name] += _num(acc.get("Update"))
    return dict(groups)


def event_log_file(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return files[0]


def merge(groups: dict[str, GroupStats], names) -> GroupStats:
    """One GroupStats over several job groups."""
    out = GroupStats()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for f in ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "spill_bytes",
                  "input_bytes", "output_bytes", "shuffle_write_bytes"):
            setattr(out, f, getattr(out, f) + getattr(g, f))
        out.peak_exec_bytes = max(out.peak_exec_bytes, g.peak_exec_bytes)
        out.peak_heap_bytes = max(out.peak_heap_bytes, g.peak_heap_bytes)
        for k, v in g.sql.items():
            out.sql[k] += v
        for sid, d in g.stage_tasks.items():
            out.stage_tasks[sid].extend(d)
    return out
