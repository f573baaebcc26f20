"""Per-layer spans recorded from the benchmark's side of each call.

A span runs one call into an engine layer under its own Spark job
group and records its wall time plus the jobs, stages and tasks Spark
ran meanwhile.  Counts come from the scheduler's job/stage id
counters (so micro-batch jobs a stream submits from its own thread
count too) and from ``statusTracker`` for completed tasks.  With
tracing off a span is a plain call.
"""

from __future__ import annotations

import time
from collections import defaultdict


class Tracer:
    def __init__(self, on: bool):
        self.on = on
        self.sc = None
        self.times: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[int]] = defaultdict(list)
        self._seq = 0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _ids(self) -> tuple[int, int]:
        dag = self.sc._jsc.sc().dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def _tasks(self, stage_ids: range) -> int:
        st = self.sc.statusTracker()
        done = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None:
                done += info.numCompletedTasks
        return done

    def span(self, layer: str, fn, *args, **kw):
        """``fn(*args, **kw)`` as one call into ``layer``."""
        if not self.on:
            return fn(*args, **kw)
        self._seq += 1
        self.sc.setJobGroup(f"perfbench:{layer}:{self._seq}", layer)
        j0, s0 = self._ids()
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self.times[layer].append(time.perf_counter() - t0)
            j1, s1 = self._ids()
            self.counts[layer + ".jobs"].append(j1 - j0)
            self.counts[layer + ".stages"].append(s1 - s0)
            self.counts[layer + ".tasks"].append(self._tasks(range(s0, s1)))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def op_counts(self, fn, *args, **kw) -> tuple:
        """Run one whole operation; returns (result, jobs, stages, tasks)."""
        if not self.on:
            return fn(*args, **kw), 0, 0, 0
        j0, s0 = self._ids()
        out = fn(*args, **kw)
        j1, s1 = self._ids()
        return out, j1 - j0, s1 - s0, self._tasks(range(s0, s1))

    def pinned_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()
