"""Spans and Spark counters recorded from the benchmark's side of each call.

Nothing here reaches into the program: spans wrap the benchmark's calls into
it, Spark's work per op is read from the status store (which keeps stage
metrics with the UI disabled), and pins are read from the SparkContext.
Each op runs under its own job group, so its jobs and stages are exactly the
ones the status tracker files under that group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "exec_run_s", "exec_cpu_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "task_max_over_median", "core_util", "driver_s",
)
_MB = 1024.0 * 1024.0


class Tracer:
    """In-memory spans: name, start, end, op id and parent span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int, parent: str | None = None):
        rec = {"name": name, "op_id": op_id, "parent": parent,
               "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Per-op Spark work, read back from the status store by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.cores = self.sc.defaultParallelism
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self.quantiles = q
        self._group = 0

    def start(self) -> str:
        self._group += 1
        group = f"perfbench-{self._group}"
        self.sc.setJobGroup(group, group)
        return group

    def read(self, group: str, t0: float, t1: float) -> dict:
        """Counters of every job run under ``group`` in the window [t0, t1]."""
        self.bus.waitUntilEmpty(30_000)
        self.sc._jsc.clearJobGroup()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = sorted({s for j in job_ids
                            for s in (tracker.getJobInfo(j).stageIds or [])})
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(job_ids))
        spans, heaviest = [], None
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted: skipped on shuffle reuse
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            run_s = st.executorRunTime() / 1000.0
            out["exec_run_s"] += run_s
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
            if st.submissionTime().isDefined() and st.completionTime().isDefined():
                spans.append((st.submissionTime().get().getTime() / 1000.0,
                              st.completionTime().get().getTime() / 1000.0))
            if heaviest is None or run_s > heaviest[0]:
                heaviest = (run_s, sid, st.attemptId())
        if heaviest is not None:
            summary = self.store.taskSummary(heaviest[1], heaviest[2], self.quantiles)
            if summary.isDefined():
                run_time = summary.get().executorRunTime()  # a Scala IndexedSeq
                med, top = run_time.apply(0), run_time.apply(1)
                out["task_max_over_median"] = top / med if med > 0 else 1.0
        wall = max(t1 - t0, 1e-9)
        out["core_util"] = out["exec_run_s"] / (wall * self.cores)
        out["driver_s"] = max(wall - _covered(spans, t0, t1), 0.0)
        return out

    def pins(self) -> tuple[set[int], float]:
        """Ids of the persisted RDDs and the MB their cached blocks hold."""
        ids = set(self.sc._jsc.getPersistentRDDs().keySet())
        held = sum(i.memSize() + i.diskSize()
                   for i in self.sc._jsc.sc().getRDDStorageInfo())
        return ids, held / _MB


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


def layer_totals(records: list[tuple[str, dict, float]], cores: int) -> dict[str, dict]:
    """Per layer: the mean of each counter over that layer's op calls, with
    ``core_util`` taken over the layer's summed executor time and wall."""
    by_layer: dict[str, list[tuple[dict, float]]] = {}
    for layer, counters, wall in records:
        by_layer.setdefault(layer, []).append((counters, wall))
    out = {}
    for layer, rows in by_layer.items():
        mean = {k: statistics.fmean(c[k] for c, _ in rows) for k in COUNTERS}
        mean["core_util"] = sum(c["exec_run_s"] for c, _ in rows) / (
            sum(w for _, w in rows) * cores)
        out[layer] = mean
    return out
