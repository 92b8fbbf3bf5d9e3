"""Measurements taken from outside the program: spans around layer calls,
host health, driver-JVM counters and Spark job/stage/task counts.

Nothing here changes what the program does. Spans are kept in memory and
written out once, at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op,
    so the untraced run pays one attribute check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": op_id,
               "start": time.perf_counter()}
        rec.update(attrs)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# host health
# --------------------------------------------------------------------------
def cpu_canary() -> float:
    """Seconds for a fixed pure-Python loop: a flag for a slow host, never
    used to rescale a metric."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


class HostWatch:
    """Steal share, canary and load average across a measured phase."""

    def __init__(self):
        self.canary_before = cpu_canary()
        self.load_before = os.getloadavg()[0]
        self._ticks = _cpu_ticks()

    def finish(self) -> dict:
        steal, total = _cpu_ticks()
        d_total = total - self._ticks[1]
        return {
            "steal_share": (steal - self._ticks[0]) / d_total if d_total else 0.0,
            "cpu_canary_before_s": self.canary_before,
            "cpu_canary_after_s": cpu_canary(),
            "loadavg_before": self.load_before,
            "loadavg_after": os.getloadavg()[0],
        }


# --------------------------------------------------------------------------
# driver JVM
# --------------------------------------------------------------------------
def jvm_cpu_s(pid: int) -> float:
    """utime + stime of the driver JVM, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def jvm_gc_s(spark) -> float:
    """Total collection time of every driver-JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime())
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


class SparkCounts:
    """Exact job, stage and task counts between two points, read through
    the public ``statusTracker``, of the jobs in one job group (``None``:
    untagged jobs). Valid only while no other Spark work of that group
    runs, so it is used in the single-client pass and around ingest
    passes."""

    def __init__(self, spark, group: str | None = None):
        self.tracker = spark.sparkContext.statusTracker()
        self.group = group
        self.before = set(self.tracker.getJobIdsForGroup(group))

    def finish(self) -> dict:
        new = sorted(set(self.tracker.getJobIdsForGroup(self.group))
                     - self.before)
        stages = tasks = 0
        for j in new:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(new), "stages": stages, "tasks": tasks}
