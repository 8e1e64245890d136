"""Measurement from outside the engine: spans around the benchmark's own
calls into each layer, and counters read from Spark's status store.

Nothing here reaches into the package; it only times calls and reads
what Spark itself records.
"""

from __future__ import annotations

import json
import os
import resource
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: status-store stage fields summed per item, with their scale to the
#: reported unit (task times are in ms, CPU time in ns, bytes to MB)
_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    #: the Spark job group of the item the span belongs to
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans: run -> setup | pass -> item -> build | plan | exec.
    Written out once, by :meth:`dump`, when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, parent, name, time.perf_counter() - self._t0, 0.0, group)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter() - self._t0

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the time its children cover (children of
        one span run one after another, never overlapping)."""
        return span.dur - sum(c.dur for c in self.children(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def stage_totals(spark, group: str) -> Counter:
    """Sum the status-store metrics of every stage that ran under the
    job group ``group``: job, stage and task counts plus the
    :data:`_STAGE_FIELDS` totals.  Skipped stages count for nothing."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters
    out: Counter = Counter()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        for stage_id in to_java.asJava(store.job(job_id).stageIds()):
            stage = store.lastStageAttempt(stage_id)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            for key, (field, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(stage, field)() * scale
    return out


def cached_storage_mb(spark) -> float:
    """Executor storage memory held by cached RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 2**20


def plan_nodes(plan_text: str) -> int:
    """Node count of a physical plan's tree string (one line per node)."""
    return sum(1 for line in plan_text.splitlines() if line.strip())


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files


def live_heap_mb(spark) -> float:
    """Driver heap still in use after a full collection: what the
    session keeps alive (cached relations, memoized plans, broadcasts,
    status-store history)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time
    (``/proc/self/stat`` field 22, in clock ticks since boot)."""
    with open("/proc/self/stat") as fh:
        # fields after "pid (comm)": the first is field 3
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[22 - 3]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU time per state (``/proc/stat``, in clock
    ticks): user, nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two :func:`cpu_ticks` reads
    that the hypervisor spent on other machines while this one waited.  A
    run with a high share ran slower for reasons outside the program."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024
