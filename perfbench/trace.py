"""Spans recorded by the benchmark around calls into the package.

A span is one public call: name, start, end, parent span, request id.
Spans are kept in memory and written out once, at the end of the run.
When a span closes, the Spark jobs it ran (found through its job group)
are summed from the driver's status store: executor CPU and run time,
GC time, shuffle bytes, spill bytes, task and job counts. The status
store is the one the Spark UI reads; it is live with the UI off, so the
traced run does not need the UI's HTTP server.

With tracing off, span() only times the call: no job group, no status
store reads, no phase sinks."""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError

EXECUTOR_KEYS = (
    "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks", "jobs",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._next = 0
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, request_id: Optional[str] = None, traced: bool = True):
        """Times the block; yields the span dict (callers add counters
        to it). `traced=False` turns recording off for this span alone,
        which the traced run uses to measure its own overhead."""
        rec = {"name": name}
        if not (self.enabled and traced):
            t = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur_s"] = time.perf_counter() - t
            return
        sc = self.spark.sparkContext
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec.update(
            id=self._next,
            parent=parent["id"] if parent else None,
            request_id=request_id or (parent or {}).get("request_id"),
            group=f"perfbench-{self._next}",
        )
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start_s"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            rec["dur_s"] = rec["end_s"] - rec["start_s"]
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec.update(self._executor_metrics(rec["group"]))
            if parent:
                # a parent's jobs include its children's
                for k in EXECUTOR_KEYS:
                    parent[f"child_{k}"] = parent.get(f"child_{k}", 0) + rec[k]
            self.spans.append(rec)

    def _executor_metrics(self, group: str) -> Dict[str, float]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(EXECUTOR_KEYS, 0)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        stages = set()
        for j in jobs:
            info = sc.statusTracker().getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            try:
                d = store.lastStageAttempt(s)
            except Py4JJavaError:  # a skipped stage never ran an attempt
                continue
            out["executor_cpu_s"] += d.executorCpuTime() / 1e9
            out["executor_run_s"] += d.executorRunTime() / 1e3
            out["gc_s"] += d.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += d.shuffleRemoteBytesRead() + d.shuffleLocalBytesRead()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out["tasks"] += d.numCompleteTasks()
        return out

    def of(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def executor_totals(self, name: str) -> Dict[str, float]:
        """Executor metrics summed over every recorded span of `name`,
        children included."""
        out = dict.fromkeys(EXECUTOR_KEYS, 0)
        for s in self.of(name):
            for k in EXECUTOR_KEYS:
                out[k] += s[k] + s.get(f"child_{k}", 0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0, default=str)


def tail(values: List[float]) -> float:
    """Highest order statistic with at least 10 samples beyond it; the
    maximum when there are fewer than 11 samples."""
    v = sorted(values)
    return v[-11] if len(v) >= 11 else v[-1]


def tail_pct(n: int) -> float:
    """The percentile tail() reports for n samples."""
    return 100.0 * (n - 10) / n if n >= 11 else 100.0
