"""Counters the benchmark reads from outside the engine, and its tracer.

Everything here is read from what the OS and the JVM already expose:
``/proc`` for CPU (the JIT compiler threads' CPU apart), resident memory
and hypervisor steal; the JVM's GarbageCollector MXBeans for GC time; and
Spark's ``statusTracker`` for the jobs, stages and tasks of one job
group. Nothing is installed into the engine.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo.extend(_children(child))
    return out


def _cpu_s(pid: int, reaped: bool) -> float:
    """utime+stime of ``pid``; with ``reaped``, plus its waited-for
    children's (cutime+cstime), which is where the CPU of a worker that
    has already exited ends up."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _HZ


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _HZ


def host_cpu() -> tuple[float, float]:
    """(busy, steal) seconds of this machine's CPUs so far, from ``/proc/stat``:
    busy is user+nice+system+irq+softirq; steal is time a CPU had work
    but the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / _HZ, f[7] / _HZ


class Stopwatch:
    """Wall time of an interval, and the part of it that was not stolen.

    On a shared host the hypervisor takes CPU from this machine at times
    (steal), and a run's wall time swings with it. If steal strikes the
    busy CPU time of an interval evenly, every thread in it ran at
    busy / (busy + steal) of its speed, so without steal the interval
    would have lasted ``wall * busy / (busy + steal)``: ``unstolen``.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = host_cpu()

    def stop(self) -> tuple[float, float, float]:
        """(wall, unstolen, steal) seconds since the stopwatch started."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, host_cpu()))
        return wall, (wall * busy / (busy + steal) if busy + steal > 0 else wall), steal


class ProcessTree:
    """CPU and peak RSS of the driver, the JVM and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.driver_pid = os.getpid()

    def _jit_s(self) -> float:
        """CPU of the JVM's JIT compiler threads (named "C1/C2 CompilerThreadN")."""
        total = 0
        with os.scandir(f"/proc/{self.jvm_pid}/task") as tasks:
            for task in tasks:
                try:
                    with open(f"{task.path}/stat") as fh:
                        raw = fh.read()
                except OSError:
                    continue  # the thread exited
                if "CompilerThre" in raw[raw.index("("):raw.rindex(")")]:
                    f = raw[raw.rindex(")") + 2:].split()
                    total += int(f[11]) + int(f[12])
        return total / _HZ

    def cpu(self) -> dict[str, float]:
        workers = _descendants(self.jvm_pid)
        jvm = _cpu_s(self.jvm_pid, reaped=False)
        # workers the JVM reaped itself are in the JVM's cutime/cstime
        python_worker = sum(_cpu_s(p, reaped=True) for p in workers) + (
            _cpu_s(self.jvm_pid, reaped=True) - jvm
        )
        return {
            "jvm": jvm,
            "jit": self._jit_s(),
            "python_worker": python_worker,
            "driver": _cpu_s(self.driver_pid, reaped=False),
        }

    def peak_rss_mb(self) -> float:
        pids = [self.driver_pid, self.jvm_pid, *_descendants(self.jvm_pid)]
        return sum(_hwm_mb(p) for p in pids)


class Jvm:
    """The session JVM's pid and its GC time, from its MXBeans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        return sum(max(0, gc.getCollectionTime()) for gc in self._gcs) / 1000.0


def job_group_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and completed/failed tasks of one job group.

    A streaming query runs its micro-batches on its own thread under its
    own job group, so those jobs are not counted here.
    """
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        out["jobs"] += 1
        for stage_id in info.stageIds if info else ():
            if stage_id in seen:
                continue
            seen.add(stage_id)
            st = tracker.getStageInfo(stage_id)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
    return out


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory spans with counters taken at their boundaries.

    A disabled tracer records nothing and sets no job groups, so the
    end-to-end run pays only for ``time.perf_counter`` around each call.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = self.tree = self.jvm = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0

    def attach(self, sc, tree: ProcessTree, jvm: Jvm) -> None:
        """Take counters from this session from now on."""
        self.sc, self.tree, self.jvm = sc, tree, jvm

    def _counters(self) -> dict[str, float]:
        if self.tree is None:
            return {}
        cpu = self.tree.cpu()
        return {"jvm_cpu_s": cpu["jvm"], "jit_s": cpu["jit"],
                "python_worker_cpu_s": cpu["python_worker"],
                "driver_cpu_s": cpu["driver"], "gc_s": self.jvm.gc_s()}

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record one span; with ``jobs``, run its body under a fresh job
        group and add that group's job/stage/task counts."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        before = self._counters()
        group = None
        if jobs and self.sc is not None:
            self._groups += 1
            group = f"perfbench-{self.run_id}-{self._groups}"
            self.sc.setJobGroup(group, name)
        span = Span(name, time.perf_counter(), parent, self.run_id)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            after = self._counters()
            span.counters = {k: after[k] - before[k] for k in after}
            if group is not None:
                span.counters.update(job_group_stats(self.sc, group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def to_json(self, t0: float) -> list[dict]:
        return [
            {"name": s.name, "start": s.start - t0, "end": s.end - t0,
             "parent": s.parent, "run_id": s.run_id, **s.counters}
            for s in self.spans
        ]
