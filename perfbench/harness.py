"""Measurement plumbing shared by the benchmark's workloads.

Everything here observes the engine from outside: wall-clock spans
around the benchmark's own calls into the package, plus Spark's public
instruments (job groups, ``statusTracker``, the local event log,
``queryExecution().tracker().phases()`` and ``getPersistentRDDs()``).
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# a percentile is reported only while this many samples lie beyond it
MIN_BEYOND = 10
CATALYST_PHASES = ("analysis", "optimization", "planning")


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the q-quantile's rank in a sample of n."""
    return n - math.ceil(q * n)


def percentile(values: list[float], q: float) -> float | None:
    """The median (q = 0.5) of any non-empty sample; above the median,
    the nearest-rank q-quantile only while at least MIN_BEYOND samples
    lie beyond it. None otherwise."""
    n = len(values)
    if n == 0:
        return None
    if q == 0.5:
        return statistics.median(values)
    if samples_beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(values)[max(0, math.ceil(q * n) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Op:
    """One timed operation of the closed loop."""

    kind: str
    seconds: float
    unit: int
    ok: bool = True
    detail: str = ""
    known_defect: bool = False


@dataclass
class Recorder:
    """Spans and counts recorded around the benchmark's calls."""

    ops: list[Op] = field(default_factory=list)
    spans: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[name] += value

    def fail(self, index: int, why: str) -> None:
        self.ops[index].ok = False
        self.ops[index].detail = why

    def known(self, index: int, why: str) -> None:
        """Mark a result that shows a listed known defect: not failed,
        but not counted as correct either."""
        self.ops[index].known_defect = True
        self.ops[index].detail = why


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock ticks)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str, exclude_dir: str | None = None) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        if exclude_dir in dirs:
            dirs.remove(exclude_dir)
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class SparkProbe:
    """Spark's public instruments for one session: job groups, the
    status tracker, Catalyst phase times and the persistent-RDD map."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.catalyst_ms: dict[str, float] = defaultdict(float)
        self.groups: set[str] = set()

    @contextmanager
    def group(self, group_id: str):
        """Tag the jobs an operation launches (traced runs only)."""
        if self.trace:
            self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            if self.trace:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def jobs_in(self, group_id: str) -> int:
        """Jobs the group launched, per the status tracker."""
        self.groups.add(group_id)
        return len(self.sc.statusTracker().getJobIdsForGroup(group_id))

    def add_catalyst(self, df) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        for name in CATALYST_PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                self.catalyst_ms[name] += float(opt.get().durationMs())

    def _old_gen_pools(self):
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return [
            p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and ("Old" in p.getName() or "Tenured" in p.getName())
        ]

    def reset_heap_peak(self) -> None:
        for pool in self._old_gen_pools():
            pool.resetPeakUsage()

    def old_gen_peak_mb(self) -> float:
        """Peak use of the old-generation heap pool since the last reset:
        the heap that outlives young collections, where cached blocks
        and anything else the workload keeps reachable end up. (The
        young pools fill to their size before every collection, so
        their peaks say little.)"""
        return sum(p.getPeakUsage().getUsed() for p in self._old_gen_pools()) / 2**20

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def release_storage(self) -> None:
        """Drop cached tables and any RDD left persisted, so each
        operation pays for exactly its own materializations."""
        self.spark.catalog.clearCache()
        rdds = self.sc._jsc.getPersistentRDDs()
        for key in list(rdds.keySet()):
            rdds.get(key).unpersist(True)


@dataclass
class ExecTotals:
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def read_event_log(path: str, groups: set[str]) -> ExecTotals:
    """Sum task metrics from an uncompressed local event log over the
    jobs whose job group is in ``groups``."""
    stage_in_scope: set[int] = set()
    out = ExecTotals()
    mb = 1024.0 * 1024.0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") in groups:
                    stage_in_scope.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stage_in_scope:
                    out.stages += 1
            elif kind == "SparkListenerTaskEnd":
                if ev.get("Stage ID") not in stage_in_scope:
                    continue
                m = ev.get("Task Metrics") or {}
                out.tasks += 1
                out.run_s += m.get("Executor Run Time", 0) / 1e3
                out.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                out.gc_s += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                out.shuffle_read_mb += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / mb
                wr = m.get("Shuffle Write Metrics") or {}
                out.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) / mb
                out.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / mb
    return out
