"""Spans and per-layer Spark metrics for the traced run.

A span is opened around each call into a layer; the Spark jobs the call
launches run under a job group named after the layer, and when the span
closes the group's jobs are read back from Spark's status store, which
answers with the UI disabled.  Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: metrics every Spark layer reports, in the order they are listed
SPARK_METRICS = (
    "wall_s", "jobs", "tasks", "executor_run_s", "core_util",
    "shuffle_write_bytes", "shuffle_read_bytes", "peak_exec_mem_bytes", "task_skew",
)


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    trace_id: str
    start: float
    end: float = 0.0
    # Spark metrics of the span's job group
    metrics: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, cores: int) -> None:
        # set once the session exists; the session span itself runs without it
        self.spark = None
        self.cores = cores
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[str] = []
        # seconds spent reading the status store: the tracer's own cost
        self.collect_s = 0.0

    @contextmanager
    def span(self, name: str, spark_group: bool = True):
        """Time ``name``; with ``spark_group`` its Spark jobs run under the
        job group ``name`` and their metrics land on the span."""
        s = Span(name, uuid.uuid4().hex[:16], self._stack[-1] if self._stack else None,
                 self.trace_id, time.time())
        self.spans.append(s)
        self._stack.append(s.span_id)
        sc = self.spark.sparkContext if spark_group else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.monotonic()
        try:
            yield s
        finally:
            wall = time.monotonic() - t0
            s.end = s.start + wall
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                t1 = time.monotonic()
                s.metrics = self.group_metrics(name, wall)
                self.collect_s += time.monotonic() - t1

    def group_metrics(self, group: str, wall_s: float) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(SPARK_METRICS, 0.0)
        m["wall_s"] = wall_s
        m["jobs"] = len(job_ids)
        longest = (-1.0, 1.0)  # (executor ms, max/median task ms) of the busiest stage
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException: never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            run_ms = float(st.executorRunTime())
            m["tasks"] += st.numCompleteTasks()
            m["executor_run_s"] += run_ms / 1000.0
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            summary = store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                d = summary.get()
                run, peak = d.executorRunTime(), d.peakExecutionMemory()
                m["peak_exec_mem_bytes"] = max(m["peak_exec_mem_bytes"], peak.apply(1))
                if run_ms > longest[0] and run.apply(0) > 0:
                    longest = (run_ms, run.apply(1) / run.apply(0))
        m["task_skew"] = longest[1] if longest[0] >= 0 else 0.0
        m["core_util"] = m["executor_run_s"] / (wall_s * self.cores) if wall_s > 0 else 0.0
        return m

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": [asdict(s) for s in self.spans]},
                      f, indent=1)
