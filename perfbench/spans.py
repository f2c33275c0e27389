"""Spans and Spark counters recorded from the benchmark's own code.

A span covers one call into the program (or one whole operation) and
records name, start, end, parent span and request id. Spans stay in
memory and are written out once, when the benchmark ends.

An operation span can also carry Spark counters: the operation runs
under its own job group, and afterwards the jobs of that group and
their stages are read back through the status tracker and the JVM
status store (the same mechanism as ``bench.py:_shuffle_metrics``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and set
    no job group, so an untraced operation runs exactly as a user's."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, req: int | None = None, counters: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-span-{rec['id']}"
        if counters:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if counters:
                self.sc._jsc.clearJobGroup()
                rec["spark"] = spark_counters(self.sc, group, rec["start"], rec["end"])

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part its child spans cover (s)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []))
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        out = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float | None = None,
            hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spark_counters(sc, group: str, start: float, end: float) -> dict:
    """Jobs, tasks and stage metrics of the jobs run under ``group``.

    Waits for the listener bus first, so the last stage's metrics have
    reached the status store. ``outside_jobs_s`` is the part of
    ``[start, end]`` during which no job of the group was running.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = dict(jobs=0, tasks=0, task_busy_s=0.0, task_deser_s=0.0, gc_s=0.0,
               shuffle_write_mb=0.0)
    stage_ids: set[int] = set()
    intervals = []
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
        job = store.job(job_id)
        sub, comp = job.submissionTime(), job.completionTime()
        if sub.isDefined() and comp.isDefined():
            intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage skipped before any attempt
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["tasks"] += sd.numTasks()
        out["task_busy_s"] += sd.executorRunTime() / 1e3
        out["task_deser_s"] += sd.executorDeserializeTime() / 1e3
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
    out["outside_jobs_s"] = (end - start) - covered(intervals, start, end)
    return out


def jvm_gc_s(sc) -> float:
    """Cumulative collection time of every JVM garbage collector (s)."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def jvm_heap_mb(sc) -> dict[str, float]:
    """Committed heap now and the summed peak use of the heap pools (MB)."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory")
    return {"committed": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20,
            "pools_peak": peak / 2**20}


def peak_rss_mb(sc) -> dict[str, float]:
    """Peak resident set (``VmHWM``, MB) of the JVM and of this Python
    driver."""
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    return {"jvm": _vm_hwm_kb(str(jvm_pid)) / 1024.0, "python": _vm_hwm_kb("self") / 1024.0}


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat`` (clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (the ``steal`` column)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
