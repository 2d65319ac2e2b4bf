"""Counters read from outside the program: Spark's driver-side status
store, plus an in-memory span recorder.

The status store (`AppStatusStore`) stays populated with the UI
disabled. Its key-value views are walked newest-first through py4j, so a
window read touches only the stages and jobs that ran since its mark;
the store keeps 1000 stages by default, so windows are read when they
end, never batched up. Task time is `executorRunTime` summed over
stages; `executorList().totalDuration` is not task time and is not used.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class Mark:
    stage_id: int
    job_id: int


class SparkStats:
    def __init__(self, spark):
        sc = spark._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        cls = self._jvm.java.lang.Class.forName
        self._stage_cls = cls("org.apache.spark.status.StageDataWrapper")
        self._job_cls = cls("org.apache.spark.status.JobDataWrapper")

    def sync(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the store holds the stages that just finished."""
        self._bus.waitUntilEmpty()

    def _newest(self, cls, key, after: int):
        it = self._store.store().view(cls).reverse().closeableIterator()
        try:
            while it.hasNext():
                info = it.next().info()
                if key(info) <= after:
                    return
                yield info
        finally:
            it.close()

    def _latest_id(self, cls, key) -> int:
        return next((key(i) for i in self._newest(cls, key, -1)), -1)

    def mark(self) -> Mark:
        self.sync()
        return Mark(self._latest_id(self._stage_cls, lambda s: s.stageId()),
                    self._latest_id(self._job_cls, lambda j: j.jobId()))

    def stages_since(self, m: Mark) -> list[dict]:
        self.sync()
        out = []
        for s in self._newest(self._stage_cls, lambda s: s.stageId(),
                              m.stage_id):
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            sub = s.submissionTime()
            out.append(dict(
                stage_id=s.stageId(), attempt=s.attemptId(),
                n_tasks=s.numCompleteTasks(),
                task_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                shuffle_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.diskBytesSpilled(),
                submitted=(sub.get().getTime() / 1e3
                           if sub.isDefined() else None)))
        return out

    def jobs_since(self, m: Mark) -> list[dict]:
        self.sync()
        out = []
        for j in self._newest(self._job_cls, lambda j: j.jobId(), m.job_id):
            sub, done = j.submissionTime(), j.completionTime()
            out.append(dict(
                job_id=j.jobId(),
                start=sub.get().getTime() / 1e3 if sub.isDefined() else None,
                end=done.get().getTime() / 1e3 if done.isDefined() else None))
        return out

    def max_over_median(self, stage: dict) -> float:
        """Slowest over median task run time of one stage."""
        qs = self._gateway.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = self._store.taskSummary(stage["stage_id"], stage["attempt"],
                                       qs)
        if not dist.isDefined():
            return 1.0
        rt = dist.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0


def totals(stages: list[dict]) -> dict:
    return dict(
        task_s=sum(s["task_s"] for s in stages),
        cpu_s=sum(s["cpu_s"] for s in stages),
        gc_s=sum(s["gc_s"] for s in stages),
        n_tasks=sum(s["n_tasks"] for s in stages),
        n_stages=len(stages),
        shuffle_bytes=sum(s["shuffle_bytes"] for s in stages),
        spill_bytes=sum(s["spill_bytes"] for s in stages))


def covered_s(intervals, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by at least one (start, end) interval;
    an interval still open at t1 (end None) runs to t1."""
    iv = sorted((max(s, t0), min(e or t1, t1))
                for s, e in intervals if s is not None)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once
    at the end. The parent is the innermost open span of the same
    thread; a span on another thread (the pipeline's stage chains) hangs
    under the innermost span open on the thread that made the tracer."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack = self._stack()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            main = getattr(self, "_main_stack", [])
            self._local.stack = main[-1:]
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            rec = dict(id=len(self.spans), name=name,
                       parent=stack[-1] if stack else None,
                       thread=threading.get_ident(), **attrs)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            cover = covered_s([(k["start"], k["end"])
                               for k in kids.get(s["id"], [])],
                              s["start"], s["end"])
            out[s["id"]] = (s["end"] - s["start"]) - cover
        return out

    def write(self, path: str) -> None:
        selft = self.self_times()
        spans = [dict(s, self_s=selft[s["id"]]) for s in self.spans]
        by_name: dict[str, list[float]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s["self_s"])
        summary = {n: dict(n=len(v), self_s=sum(v),
                           median_self_s=statistics.median(v))
                   for n, v in by_name.items()}
        with open(path, "w") as fh:
            json.dump(dict(spans=spans, self_time_by_name=summary), fh,
                      indent=1, default=str)
