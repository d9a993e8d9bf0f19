"""Spark-side counters read from outside the program.

- job, stage and task counts of one call, from a job group the benchmark
  sets around it and reads back through `statusTracker`;
- Catalyst phase times of a returned DataFrame's query execution;
- JVM garbage-collection time and the heap in use after collections,
  from the management beans;
- resident-set peaks of this Python process and of the JVM;
- CPU seconds of this process, the JVM and the JVM's Python workers,
  JIT compilation excluded.  Unlike wall time, CPU time does not grow when
  the host takes the CPU away from this machine (steal), so it stays
  steady on a shared host.
"""

from __future__ import annotations

import itertools
import os
import resource
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class JobGroups:
    """Tags every Spark job started inside `group()` and counts them, with
    the stages that ran tasks (skipped stages are not counted) and their
    completed tasks."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._ids = itertools.count()

    @contextmanager
    def group(self, label: str):
        gid = f"perfbench-{next(self._ids)}-{label}"
        counts = JobCounts()
        self.sc.setJobGroup(gid, label)
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(gid):
                counts.jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage is not None and stage.numCompletedTasks > 0:
                        counts.stages += 1
                        counts.tasks += stage.numCompletedTasks


def plan_seconds(df: DataFrame) -> float:
    """Sum of the Catalyst phases (analysis, optimization, planning) the
    DataFrame's query execution has run so far."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next().durationMs()
    return total_ms / 1000.0


class Jvm:
    """The session's JVM, read through py4j and /proc."""

    def __init__(self, spark: SparkSession):
        self.jvm = spark.sparkContext._jvm
        self.mf = self.jvm.java.lang.management.ManagementFactory
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def _heap_pools(self):
        heap = self.jvm.java.lang.management.MemoryType.HEAP
        return [p for p in self.mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]

    def heap_after_gc_mb(self) -> float:
        """Heap in use right after each pool's latest collection: the live
        data, which a fixed-size heap's raw peak (always near full) hides."""
        usages = (p.getCollectionUsage() for p in self._heap_pools())
        return sum(u.getUsed() for u in usages if u is not None) / 2**20

    def cpu_seconds(self) -> float:
        """CPU seconds used so far by this process, the JVM and the JVM's
        descendants (reaped children included), less the JVM's JIT compiler
        threads: compilation is warm-up, and how much of it lands in a
        measured operation depends on timing, not on the operation."""
        ticks = 0
        for pid in (self.pid, *descendants(self.pid)):
            ticks += _proc_ticks(f"/proc/{pid}/stat", children=True)
        task = f"/proc/{self.pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as fh:
                    if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
            except OSError:
                continue
            ticks -= _proc_ticks(f"{task}/{tid}/stat", children=False)
        t = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system

    def rss_peak_mb(self) -> float:
        """Peak resident set of the JVM plus this Python process."""
        with open(f"/proc/{self.pid}/status") as fh:
            jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def data_files(root: str) -> tuple[int, int]:
    """(count, bytes) of the data files under a warehouse directory; Spark's
    hidden files (`_SUCCESS`, `.crc`, `_max_key`) are not counted."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if not name.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def _proc_ticks(stat_path: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime) of a /proc stat file, 0 if gone."""
    try:
        with open(stat_path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(f) for f in fields[11:15 if children else 13])


def descendants(pid: int) -> list[int]:
    """Every live descendant process of `pid`."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], {pid}
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = set(kids)
    return out
