"""Measurement helpers: spans, Spark job counts, byte accounting, process
counters and the tail-percentile selector.

Spans are recorded from the benchmark's side of each layer boundary and
kept in memory until the run ends.  A span's self time is its duration
minus the part of it that its child spans cover.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = -1
    jobs: int = 0  # jobs run while this span was the innermost one
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` costs one generator
    and records nothing; enabled, each span also runs its Spark jobs
    under its own job group and counts jobs, stages and tasks from the
    status tracker."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self.spark = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None, op=self.op,
                 attrs=attrs)
        idx = len(self.spans)
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._count_jobs(idx)
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, idx: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if idx is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb{idx}", self.spans[idx].name)

    def _count_jobs(self, idx: int) -> None:
        if self.spark is None:
            return
        st = self.spark.sparkContext.statusTracker()
        s = self.spans[idx]
        for j in st.getJobIdsForGroup(f"pb{idx}"):
            info = st.getJobInfo(j)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                s.stages += 1
                s.tasks += sinfo.numTasks if sinfo else 0

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.children(idx)]
        return s.dur - covered(kids, s.start, s.end)

    def counts(self) -> tuple[int, int, int]:
        return (sum(s.jobs for s in self.spans), sum(s.stages for s in self.spans),
                sum(s.tasks for s in self.spans))

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "self": self.self_time(i),
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                    **s.attrs}) + "\n")


# --------------------------------------------------------------------------
# Byte accounting
# --------------------------------------------------------------------------

def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of the data files under ``root``
    (Hadoop's ``.crc`` sidecars and ``_SUCCESS`` markers excluded)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


@dataclass
class Written:
    files: int = 0
    bytes: int = 0
    partitions: int = 0


def diff(before: dict, after: dict) -> Written:
    """Files new or rewritten between two snapshots of one table, their
    bytes, and how many partition directories they fall in."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return Written(
        files=len(changed),
        bytes=sum(after[p][0] for p in changed),
        partitions=len({os.path.dirname(p) for p in changed}),
    )


def tree_bytes(root: str) -> int:
    return sum(v[0] for v in snapshot(root).values())


# --------------------------------------------------------------------------
# Percentiles and process counters
# --------------------------------------------------------------------------

def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """Highest whole percentile p whose nearest-rank value still has at
    least ``beyond`` samples above it: (p, value), or None when there are
    too few samples for any percentile to qualify."""
    n = len(samples)
    if n < beyond + 1:
        return None
    xs = sorted(samples)
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1]


def _proc_field(pid: int, name: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_kb(pid: int) -> int:
    return _proc_field(pid, "status", "VmRSS:")


def io_bytes(pid: int) -> tuple[int, int]:
    """(read_bytes, write_bytes) storage I/O of ``pid`` so far."""
    return _proc_field(pid, "io", "read_bytes:"), _proc_field(pid, "io", "write_bytes:")


def cpu_seconds(pid: int) -> float:
    """User + system CPU time of ``pid`` so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def jvm_retained_bytes(spark) -> int:
    """Bytes the driver JVM holds: the heap in use after full
    collections, plus the non-heap pools (class metadata, compiled code)
    and the direct and mapped buffers."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    # The first collection lets Spark's ContextCleaner drop the shuffle
    # and broadcast state of collected plans; the second frees it.
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mem = mf.getMemoryMXBean()
    total = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    buffers = jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
    return total + sum(b.getMemoryUsed() for b in mf.getPlatformMXBeans(buffers))


def jit_seconds(spark) -> float:
    """Total time the driver JVM's JIT compilers have spent compiling."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def gc_seconds(spark) -> float:
    """Total GC time of the driver JVM (which runs every task in local mode)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0
