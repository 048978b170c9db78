"""Spans and Spark status-store deltas for the traced run.

The benchmark wraps its calls into each engine layer in a span. Every span
tags the jobs it submits with its own Spark job group, so after a traced
unit the reader can attribute each job (and its stages) to exactly one
span, from the live status store that Spark keeps whether or not the UI
is enabled. Nothing here changes engine code; it reads only what Spark
already records.

Per span the reader reports: jobs, stages, tasks, task run / CPU / GC
time, input bytes and records, output bytes, shuffle read / write bytes,
spilled bytes, and the wall-clock interval of each job, from which the
caller derives driver-only time (span time in which no job was running).
Spans are kept in memory and written out once, at the end.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

STAGE_FIELDS = {
    # span metric: (StageData getter, scale to the metric's unit)
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "scan_bytes": ("inputBytes", 1),
    "scan_rows": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
}


@dataclass
class Span:
    name: str
    parent: str | None
    unit: int
    group: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)  # filled by the caller
    spark: dict = field(default_factory=dict)  # filled by Tracer.collect
    job_intervals: list = field(default_factory=list)  # (submit, done) epoch s

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for traced units and reads their Spark deltas."""

    def __init__(self, sc: SparkContext):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.unit = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, parent, self.unit, f"perfbench-{next(self._ids)}", 0.0)
        self._sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def pinned_bytes(self) -> int:
        """Bytes of cached RDD blocks, in memory and on disk."""
        return sum(
            int(r.memSize()) + int(r.diskSize()) for r in self._jsc.getRDDStorageInfo()
        )

    def collect(self, unit: int) -> None:
        """Attach status-store deltas to every span of ``unit``."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        for s in self.spans:
            if s.unit != unit:
                continue
            out = {k: 0 for k in STAGE_FIELDS}
            out["jobs"] = out["stages"] = 0
            intervals = []
            for jid in tracker.getJobIdsForGroup(s.group):
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
                out["jobs"] += 1
                for sid in tracker.getJobInfo(jid).stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage never ran
                        continue
                    out["stages"] += 1
                    for key, (getter, scale) in STAGE_FIELDS.items():
                        out[key] += getattr(st, getter)() * scale
            s.spark = out
            s.job_intervals = intervals

    def unit_spans(self, unit: int) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]


def union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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
