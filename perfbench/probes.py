"""Measurements taken from outside the engine: Spark's status store read by
job group, CPU and resident memory of the process tree from /proc, bytes on
disk, and the spans of the traced run.

Nothing here changes what the engine computes; the job group is a
thread-local property that Spark copies onto every job the calling thread
starts, including the ones adaptive query execution submits.
"""

from __future__ import annotations

import contextlib
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1e6

COUNTERS = ("stages", "tasks", "executor_cpu_s", "gc_s", "shuffle_mb", "spill_mb")


class StageCounters:
    """Work counters of the jobs run under one job group, from the status
    store (kept in memory with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        # stageData(id, details, taskStatuses, withSummaries, quantiles)
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, name: str) -> dict:
        jobs = self.sc.statusTracker().getJobIdsForGroup(name)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = len(jobs)
        for jid in jobs:
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                attempts = self.store.stageData(
                    stage_ids.apply(i), False, self._no_tasks, False, self._no_quantiles)
                for j in range(attempts.size()):
                    s = attempts.apply(j)
                    if s.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["gc_s"] += s.jvmGcTime() / 1e3
                    out["shuffle_mb"] += s.shuffleWriteBytes() / MB
                    out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        return out


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we read
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(p)] = (int(fields[1]), comm, ticks / CLK_TCK)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and every live
    descendant, each including the children it has reaped: the Python
    client, the JVM and its Python workers."""
    table = _proc_table()
    return sum(table[p][2] for p in _descendants(table, root or os.getpid()) if p in table)


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python processes below the JVM (the worker
    daemon and the workers it forks and reaps)."""
    table = _proc_table()
    me = os.getpid()
    total = 0.0
    for pid in _descendants(table, me):
        if pid == me or pid not in table:
            continue
        ppid, comm, cpu = table[pid]
        if comm.startswith("python") and table.get(ppid, (0, ""))[1] == "java":
            total += cpu  # the daemon; its reaped workers are in its cutime
            total += sum(table[k][2] for k in _descendants(table, pid) if k != pid and k in table)
    return total


def engine_peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) of the engine's processes: every
    descendant of this process (the JVM and its Python workers)."""
    table = _proc_table()
    me = os.getpid()
    total = 0
    for pid in _descendants(table, me):
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def jvm_live_mb(spark) -> float:
    """Heap in use after full collections; the pauses let Spark's context
    cleaner drop the blocks of broadcasts and shuffles the first one freed."""
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.5)
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / 2**20


def frames_left(spark) -> int:
    """Persisted (cached or locally checkpointed) RDDs still registered."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def dir_mb(*paths: str) -> float:
    total = 0
    for path in paths:
        if os.path.isfile(path):
            total += os.path.getsize(path)
            continue
        for d, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


class Trace:
    """Spans recorded in memory: (name, start, end, parent, op). ``span``
    also runs its body under a job group named after the span, so the
    status-store counters of exactly that layer call can be read back."""

    def __init__(self, counters: StageCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Yields the span's ``counts`` dict, for counts the caller records
        at the layer boundary; the status-store counters join it at exit."""
        idx = len(self.spans)
        rec = {"name": name, "op": self.op, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(idx)
        group = f"trace-{idx}"
        try:
            with self.counters.group(group):
                yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:  # jobs belong to the innermost span: re-enter the parent's group
                self.counters.sc.setJobGroup(f"trace-{self._stack[-1]}", "")
        rec["counts"].update(self.counters.read(group))

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]
