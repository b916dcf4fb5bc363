"""Tracing seen from outside the program: an in-memory span recorder,
self-time arithmetic, and readers for Spark's status tracker, the JVM's
GC and memory MXBeans, and ``/proc`` high-water RSS and CPU time.

Spans come only from the benchmark's own code, around calls into the
program's public functions; nothing here patches the program."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class SpanRecorder:
    """Spans kept in memory and written out once, at the end of a run.

    Each span is ``{"id", "name", "op", "parent", "start", "end"}`` with
    times in seconds from the recorder's creation; the spans of one op
    share its ``op`` id. A disabled recorder records nothing, so the
    untraced path runs the same code."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._t0 = time.perf_counter()

    @contextmanager
    def op(self, op_id: str):
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that its
    child spans cover (children are clipped to the parent)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
        ]
        kids = [(lo, hi) for lo, hi in kids if hi > lo]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(kids)
    return out


# ---------------------------------------------------------------------------
# Outside readers
# ---------------------------------------------------------------------------


class SparkProbe:
    """Job/stage/task counts from ``statusTracker`` and GC time / heap
    peaks from the JVM MXBeans, read from the driver process."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._n = 0

    @contextmanager
    def job_group(self):
        """Run the block under a fresh job group; yields a dict that is
        filled with the block's job/stage/task counts on exit."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        counts: dict = {}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            counts.update(self.group_counts(group))

    def group_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:  # skipped stages were never submitted
                ran += 1
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def heap_peak_mb(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        heap = self.jvm.java.lang.management.MemoryType.HEAP
        return sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().equals(heap)
        ) / 2**20

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _children(root: int) -> set[int]:
    """``root`` and every live descendant, from ``/proc/<pid>/stat``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


class ProcessProbe:
    """The driver JVM and its Python workers, read from ``/proc``:
    high-water RSS (``VmHWM``) and CPU time.

    RSS is sampled between ops so workers that exit early still count;
    the peak is the sum of each process's own high-water mark. CPU time
    is user + system time of every live process in the tree plus the
    time of the children each has reaped, so exited workers still
    count."""

    def __init__(self, jvm_pid: int):
        self.root = jvm_pid
        self.hwm_kb: dict[int, int] = {}
        self._tick = os.sysconf("SC_CLK_TCK")

    def sample(self) -> None:
        for pid in _children(self.root):
            kb = _status_kb(pid, "VmHWM")
            if kb is not None:
                self.hwm_kb[pid] = max(kb, self.hwm_kb.get(pid, 0))

    def peak_mb(self) -> float:
        self.sample()
        return sum(self.hwm_kb.values()) / 1024

    def cpu_s(self) -> float:
        ticks = 0
        for pid in _children(self.root):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / self._tick
