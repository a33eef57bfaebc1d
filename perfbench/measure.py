"""Readers the benchmark measures with, all from outside the engine.

* ``/proc``: CPU seconds of the driver (this process), the JVM and the
  Python workers (every process descending from the JVM, plus the
  children the JVM has already reaped), the driver's peak resident
  memory (VmHWM), host steal time and the load average.
* The JVM's memory in use after a full collection (``MemoryMXBean``).
* Spark's own counters: the job ids of a job group
  (``SparkStatusTracker``), the stage metrics of those jobs (the
  driver's ``AppStatusStore``) and the Catalyst phase times of a query
  (``QueryExecution.tracker().phases()``).
* ``Tracer``: spans kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat from field 3 (state) on."""
    with open(f"/proc/{pid}/stat") as fh:
        text = fh.read()
    return text[text.rindex(")") + 2:].split()


def _cpu_s(fields: list[str], reaped: bool) -> float:
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if reaped:
        ticks += int(fields[13]) + int(fields[14])  # cutime, cstime
    return ticks / _TICK


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat(entry)[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while /proc was scanned
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def cpu_snapshot(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of the driver, the JVM and the Python workers."""
    jvm = _stat(jvm_pid)
    workers = _cpu_s(jvm, reaped=True) - _cpu_s(jvm, reaped=False)
    for pid in _descendants(jvm_pid):
        try:
            workers += _cpu_s(_stat(pid), reaped=True)
        except (OSError, ValueError, IndexError):
            pass  # a worker that exited between the scan and this read
    return {"driver": _cpu_s(_stat("self"), reaped=False),
            "jvm": _cpu_s(jvm, reaped=False),
            "workers": workers}


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current resident size."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def host_steal_s() -> float:
    """Cumulative steal time of all CPUs of the host, in seconds."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK


def host_sample() -> dict[str, float]:
    return {"steal_s": host_steal_s(), "loadavg": os.getloadavg()[0]}


class SparkCounters:
    """Spark's own counters, read through py4j after each query."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc._jsc.statusTracker()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_retained_mb(self) -> float:
        """Heap and non-heap bytes the JVM still uses after a full
        collection, in MiB: what the engine keeps, not the garbage the
        collector had not yet reclaimed."""
        jvm = self._spark._jvm
        jvm.java.lang.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
        return used / 2**20

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store, so the counters of a finished query are complete."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Summed metrics of every stage the jobs ran (skipped stages
        ran no task and are not counted)."""
        tot = dict.fromkeys(("stages", "tasks", "failed_tasks", "task_cpu_s",
                             "task_run_s", "gc_s", "input_bytes",
                             "shuffle_read_bytes", "shuffle_write_bytes"), 0.0)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds())
        for sid in sorted(stage_ids):
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            tot["task_cpu_s"] += s.executorCpuTime() / 1e9
            tot["task_run_s"] += s.executorRunTime() / 1e3
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["input_bytes"] += s.inputBytes()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        return tot

    def phases_ms(self, df) -> dict[str, float]:
        """Catalyst phase durations of the query behind ``df``."""
        phases = self._spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            df._jdf.queryExecution().tracker().phases())
        return {str(k): float(phases.get(k).durationMs()) for k in phases.keySet()}


@dataclass
class Span:
    name: str
    trace_id: int
    start: float
    end: float = 0.0
    parent: str | None = None
    label: str = ""
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; ``dump`` writes them out once, at the end.

    ``current`` is the (trace id, parent span name) new spans get.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self.current: tuple[int, str | None] = (0, None)

    @contextmanager
    def span(self, name: str):
        trace_id, parent = self.current
        s = Span(name, trace_id, time.perf_counter(), parent=parent)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def timed(self, fn, name: str):
        """Wrap ``fn`` so each call records a span under ``current``."""
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        wrapper.__wrapped__ = fn
        return wrapper

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"name": s.name, "label": s.label, "trace_id": s.trace_id,
                        "parent": s.parent,
                        "start": s.start, "end": s.end, "counts": s.counts}
                       for s in self.spans], fh)
