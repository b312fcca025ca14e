"""Spans and the Spark ledger of a traced run, read from outside the program.

A span wraps one call into a layer's public function.  Work inside it runs
under a Spark job group of its own; after the run the ledger resolves each
group into jobs, stages, tasks, shuffle bytes and executor run time through
``SparkContext.statusTracker`` and the status store, both of which work with
the UI off.  Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    trace: str  # one micro-batch or one registry entry
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.cores = self._sc.defaultParallelism
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, trace: str):
        s = Span(name, trace, time.perf_counter(), group=f"perfbench-{len(self.spans)}")
        self._sc.setJobGroup(s.group, f"{trace}/{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def resolve(self) -> None:
        """Attach the Spark ledger to every span.  Call once the traced
        work is over; it waits for the listener bus to catch up first."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(s.group)
            stages = tasks = run_ms = shuffle = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # skipped stage: its shuffle output was reused
                    stages += 1
                    tasks += st.numTasks()
                    run_ms += st.executorRunTime()
                    shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
            s.counts.update(
                jobs=len(jobs), stages=stages, tasks=tasks, shuffle_bytes=shuffle,
                executor_cpu_share=run_ms / 1000.0 / max(s.wall_s * self.cores, 1e-9),
            )

    def by_trace(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.trace, []).append(s)
        return out

    def spark_metrics(self) -> dict[str, float]:
        """``spark.*``: medians over traces (batches or entries) of each
        trace's summed ledger counts; the CPU share is of the trace's wall."""
        per = []
        for spans in self.by_trace().values():
            wall = sum(s.wall_s for s in spans)
            run_s = sum(s.counts["executor_cpu_share"] * s.wall_s * self.cores for s in spans)
            per.append({
                "jobs": sum(s.counts["jobs"] for s in spans),
                "stages": sum(s.counts["stages"] for s in spans),
                "tasks": sum(s.counts["tasks"] for s in spans),
                "shuffle_bytes": sum(s.counts["shuffle_bytes"] for s in spans),
                "executor_cpu_share": run_s / max(wall * self.cores, 1e-9),
            })
        return {
            f"spark.{k}": statistics.median(p[k] for p in per) if per else 0.0
            for k in ("jobs", "stages", "tasks", "shuffle_bytes", "executor_cpu_share")
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)
