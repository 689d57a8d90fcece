"""Spans and Spark engine counters, recorded from outside the engine.

A span is opened around each call into a layer's public function. With
tracing on, every span tags the jobs it launches with ``setJobGroup``, so
after the run the job group's stages can be rolled up from the JVM status
store (executor run/CPU/GC time, shuffle bytes, spill). With tracing off a
span records nothing and costs one attribute lookup.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTER_NAMES = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)
MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str
    # job groups set by the engine itself (a streaming query tags its jobs
    # with its run id) whose jobs belong to this span
    adopted: list[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Time ``name``; with tracing on, jobs launched inside are tagged
        with this span's job group (restored to the parent's on exit)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        group = f"pb{idx}"
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, request, group))
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                sc.setJobGroup("pb-untraced", "outside spans")

    def adopt(self, group: str) -> None:
        """Count the jobs of job group ``group`` under the open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]].adopted.append(group)

    def by_request(self, prefix: str) -> dict[int, float]:
        """Summed duration per request of spans whose name starts with
        ``prefix``."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.name.startswith(prefix) and s.request is not None:
                out[s.request] = out.get(s.request, 0.0) + s.seconds
        return out

    def counters(self, roots: list[int]) -> dict[str, float]:
        """Spark counters summed over every job tagged by the spans under
        ``roots`` (indexes of top-level spans), read from the status
        store. Call after the spans have ended."""
        keep = set(roots)
        for i, s in enumerate(self.spans):
            if s.parent in keep:
                keep.add(i)
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        total = dict.fromkeys(COUNTER_NAMES, 0.0)
        groups = [g for i in sorted(keep) for g in (self.spans[i].group, *self.spans[i].adopted)]
        for group in groups:
            for job in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                total["jobs"] += 1
                for stage in info.stageIds:
                    attempts = store.stageData(stage, False, no_status, False, no_quantiles)
                    it = attempts.iterator()
                    while it.hasNext():
                        d = it.next()
                        if str(d.status()) == "SKIPPED":
                            continue
                        total["stages"] += 1
                        total["tasks"] += d.numCompleteTasks()
                        total["exec_run_s"] += d.executorRunTime() / 1e3
                        total["exec_cpu_s"] += d.executorCpuTime() / 1e9
                        total["gc_s"] += d.jvmGcTime() / 1e3
                        total["shuffle_read_mb"] += d.shuffleReadBytes() / MB
                        total["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
                        total["spill_mb"] += (
                            d.memoryBytesSpilled() + d.diskBytesSpilled()
                        ) / MB
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the peak usage of the driver JVM's heap memory pools."""
    jvm = spark.sparkContext._jvm
    peak = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            peak += pool.getPeakUsage().getUsed()
    return peak / MB
