"""Per-call Spark counters from the live status store.

``Tracer.call(layer, fn)`` runs ``fn`` under its own job group, then
reads every job the call started and the last attempt of each stage
those jobs ran (skipped stages are not counted) from Spark's status
store.  A span records wall time, the part of it covered by Spark jobs
(``jobs_ms``; the rest is driver-side composition and collection,
``driver_ms``), and the job, stage and task counters.  Spans stay in
memory; ``write`` dumps them as JSON lines when the run ends.

The untraced benchmark never constructs a ``Tracer``: the timed runs pay
no job-group bookkeeping and no listener-bus drains.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time

_STAGE_FIELDS = (
    ("tasks", lambda s: s.numTasks()),
    ("executor_run_ms", lambda s: s.executorRunTime()),
    ("executor_cpu_ms", lambda s: s.executorCpuTime() / 1e6),
    ("shuffle_read_bytes", lambda s: s.shuffleReadBytes()),
    ("shuffle_write_bytes", lambda s: s.shuffleWriteBytes()),
    ("spill_bytes", lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled()),
)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._ids = itertools.count()
        self.spans: list[dict] = []

    def call(self, layer: str, fn):
        """Run ``fn()`` as one span of ``layer``; returns its result."""
        group = f"fsbench-{next(self._ids)}-{layer}"
        self._sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall_ms = (time.perf_counter() - t0) * 1e3
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        span = {"layer": layer, "wall_ms": wall_ms, **self._counters(group)}
        span["driver_ms"] = max(0.0, wall_ms - span["jobs_ms"])
        self.spans.append(span)
        return out

    def _counters(self, group: str) -> dict:
        # listener events are delivered asynchronously; drain them so the
        # store holds the final metrics of every stage this call ran
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        job_ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(job_ids), "stages": 0, "jobs_ms": 0.0}
        out.update({name: 0 for name, _ in _STAGE_FIELDS})
        intervals, seen = [], set()
        for j in job_ids:
            job = store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            for sid in self._sc.statusTracker().getJobInfo(j).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                stage = store.lastStageAttempt(sid)
                if str(stage.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for name, get in _STAGE_FIELDS:
                    out[name] += get(stage)
        out["jobs_ms"] = float(_union_ms(intervals))
        return out

    def median(self, layer: str, field: str) -> float:
        """Median of ``field`` over the spans of ``layer`` (0 if none)."""
        vals = [s[field] for s in self.spans if s["layer"] == layer]
        return float(statistics.median(vals)) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def _union_ms(intervals: list) -> int:
    """Total length of the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
