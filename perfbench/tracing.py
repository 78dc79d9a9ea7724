"""Spans and per-job-group Spark stage counters for the traced run.

A traced run wraps every call into a layer's public function in a span
(name, start, end, parent, trace id) and tags the Spark jobs the call
starts with a job group named after the layer. Spans stay in memory; the
stage counters of each group are read from the application status store
once the run ends (``spark.ui.enabled=false`` keeps the store; only the
REST API needs the UI). An untraced run uses ``Tracer(enabled=False)``,
whose spans cost one attribute test.

Self time of a span is its duration minus the part of its interval that
its child spans cover (``self_times``).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

COUNTERS = ("exec_s", "wait_s", "gc_s", "shuffle_bytes", "spill_bytes",
            "failed_tasks")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    group: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - covered(kids.get(i, []), s.start, s.end)
            for i, s in enumerate(spans)]


class Tracer:
    def __init__(self, enabled: bool, spark=None, trace_id: str = ""):
        self.enabled = enabled
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Record ``name`` around the block; Spark jobs started inside it
        join the job group ``group`` (default: no group change)."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent,
                  trace_id=self.trace_id, group=group)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._groups.append(group or self._groups[-1])
        self._set_group(self._groups[-1])
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._groups.pop()
            self._set_group(self._groups[-1])

    def wrap(self, name: str, thunk):
        """``thunk`` run inside a span ``name`` (for build callbacks that
        the program calls, such as a checkpoint stage's plan builder)."""
        def run():
            with self.span(name):
                return thunk()
        return run

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{self.trace_id}:{group}", group)

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> None:
        self.spans.append(Span(name, start, end, parent, self.trace_id))

    def job_groups(self) -> dict[str, dict]:
        """Jobs and stage counters per group of this trace, read from the
        status store after waiting for the listener bus to drain."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        prefix = f"{self.trace_id}:"
        out: dict[str, dict] = {}
        for job in conv.asJava(store.jobsList(None)):
            grp = job.jobGroup()
            if not grp.isDefined() or not grp.get().startswith(prefix):
                continue
            g = out.setdefault(grp.get()[len(prefix):], {
                "jobs": 0, "intervals": [],
                **{c: 0 for c in COUNTERS}})
            g["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                g["intervals"].append((sub.get().getTime() / 1e3,
                                       done.get().getTime() / 1e3))
            for sid in conv.asJava(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage evicted or never run
                    continue
                run_s = st.executorRunTime() / 1e3
                g["exec_s"] += run_s
                g["wait_s"] += run_s - st.executorCpuTime() / 1e9
                g["gc_s"] += st.jvmGcTime() / 1e3
                g["shuffle_bytes"] += st.shuffleWriteBytes()
                g["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
                g["failed_tasks"] += st.numFailedTasks()
        return out

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "trace_id": s.trace_id,
                 "group": s.group, "self_s": st}
                for s, st in zip(self.spans, selfs)]
