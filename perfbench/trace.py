"""Spans around the calls the benchmark makes into each layer, plus the
Spark job, stage and task counts of each traced call.

A span records its name, the operation it belongs to, its parent and its
start and end. Spans stay in memory; the run aggregates them when it
ends. With tracing off, ``span`` only yields and ``call`` only calls, so
the untraced runs that give the end-to-end numbers pay for nothing but a
context manager.

Jobs are counted per call with ``setJobGroup`` and ``getJobIdsForGroup``,
not with status-tracker deltas (the tracker forgets jobs past its
retention limit, which once produced negative job counts). Stage metrics
are read from Spark's status store after the listener bus has drained,
and only in the traced run. That reading is itself a span,
``trace.bookkeeping``, so it is charged to the tracer and not to the
layer or operation around it.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench import metrics as M

# Stage-level counters summed over every stage of a traced call, as
# (metric suffix, StageData getter, scale to the reported unit).
STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("input_bytes", "inputBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
)


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)
    _op: str = ""
    _groups: itertools.count = field(default_factory=itertools.count)

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """Spans opened inside share ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self._op, parent, time.perf_counter()))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a finished span, child of the open one, such as a sink
        commit timed on a streaming thread."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, self._op, parent, start, end))

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside span ``name``; traced, its Spark jobs run in
        a job group of their own and their stage metrics are added to
        the ``exec.*`` counts."""
        if not self.enabled:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._groups)}"
        sc.setJobGroup(group, name)
        t_wall0 = time.time()
        try:
            with self.span(name):
                return fn(*args, **kwargs)
        finally:
            t_wall1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            with self.span("trace.bookkeeping"):
                self._read_group(group, t_wall0, t_wall1)

    def bookkeeping_since(self, t0: float) -> float:
        """Seconds of ``trace.bookkeeping`` spans started at or after
        ``t0``, for client-side timers that enclose traced calls."""
        return sum(s.end - s.start for s in self.spans
                   if s.name == "trace.bookkeeping" and s.start >= t0)

    def _read_group(self, group: str, t0: float, t1: float) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        intervals = []
        n_stages = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage_id in (info.stageIds if info else []):
                datas = store.stageData(int(stage_id), False, None, False, None)
                for i in range(datas.size()):
                    sd = datas.apply(i)
                    n_stages += 1
                    for key, getter, scale in STAGE_FIELDS:
                        self.counts[f"exec.{key}"] += getattr(sd, getter)() * scale
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1e3,
                                          done.get().getTime() / 1e3))
        self.counts["exec.jobs"] += len(jobs)
        self.counts["exec.stages"] += n_stages
        self.counts["exec.outside_stage_s"] += M.self_time(t0, t1, intervals)

    def _roots(self) -> list[str]:
        """The name of each span's outermost ancestor."""
        out: list[str] = []
        for s in self.spans:
            out.append(s.name if s.parent is None else out[s.parent])
        return out

    def self_times(self, roots) -> dict[str, float]:
        """Exclusive time (``metrics.exclusive_times``) summed per span
        name, over the spans under a root span named in ``roots``; the
        figures add up to ``wall(roots)``."""
        shares = M.exclusive_times([(s.parent, s.start, s.end) for s in self.spans])
        out: dict[str, float] = defaultdict(float)
        for s, root, t in zip(self.spans, self._roots(), shares):
            if root in roots:
                out[s.name] += t
        return dict(out)

    def wall(self, roots) -> float:
        """Summed duration of the root spans named in ``roots``."""
        return sum(s.end - s.start for s in self.spans
                   if s.parent is None and s.name in roots)

    def durations(self, name: str, roots=None) -> list[float]:
        """Durations of the spans called ``name`` (under ``roots`` if
        given)."""
        return [s.end - s.start for s, root in zip(self.spans, self._roots())
                if s.name == name and (roots is None or root in roots)]
