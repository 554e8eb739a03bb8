"""Spans around the benchmark's calls into the engine, with Spark job,
stage and task counters read from the driver's status store.

Every call runs under its own job group ``<workload>:<layer>#<n>`` in both
modes.  Only a traced recorder reads the status store, and it does so after
the call's timed region has closed, so call timings are the same in both
modes; the time spent reading is kept apart as the tracing overhead.
Spans stay in memory until :meth:`Recorder.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Recorder:
    def __init__(self, spark, workload: str, traced: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._n = 0
        self._stack: list[tuple[int, str, str]] = []  # open (id, group, layer)
        if traced:
            self._store = self.sc._jsc.sc().statusStore()
            gw = self.sc._gateway
            self._quantiles = gw.new_array(gw.jvm.double, 2)
            self._quantiles[0] = 0.5
            self._quantiles[1] = 1.0

    @contextmanager
    def span(self, layer: str):
        """Time the enclosed call as one span; yields the span dict so the
        caller can attach its own counters (supersteps, history...)."""
        self._n += 1
        group = f"{self.workload}:{layer}#{self._n}"
        span = {
            "name": layer,
            "group": group,
            "id": self._n,
            "parent": self._stack[-1][0] if self._stack else None,
        }
        self._stack.append((self._n, group, layer))
        self.sc.setJobGroup(group, layer)
        span["start"] = time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if self._stack:  # jobs after this span belong to the parent again
                self.sc.setJobGroup(self._stack[-1][1], self._stack[-1][2])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(span)
            if self.traced:
                t = time.perf_counter()
                span.update(self._collect(group, span["start"], span["end"]))
                self.overhead_s += time.perf_counter() - t

    def _collect(self, group: str, start: float, end: float) -> dict:
        """Jobs, stages, tasks, CPU, shuffle bytes and task skew of one job
        group, plus the share of the span no job was running."""
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        intervals = []
        for jid in jobs:
            try:
                job = self._store.job(jid)
            except Py4JError:
                continue  # evicted from the store
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        tasks = cpu_ns = run_ms = shuffle = 0
        skew = 1.0
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JError:
                continue
            n = st.numCompleteTasks()
            if n == 0:
                continue  # skipped: its output was reused
            tasks += n
            cpu_ns += st.executorCpuTime()
            run_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
            if n > 1:
                dist = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        skew = max(skew, mx / med)
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": tasks,
            "cpu_s": cpu_ns / 1e9,
            "run_s": run_ms / 1e3,
            "shuffle_mb": shuffle / 1e6,
            "task_skew": skew,
            "driver_gap_s": max(0.0, (end - start) - _covered(intervals, start, end)),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
