"""In-memory spans around calls into the engine's modules, with the
Spark counters of the jobs each span launched.

A span sets its own Spark job group while it is the innermost open
span, so every job lands in exactly one span; the parent's group is
restored on exit. After each traced op the benchmark calls
`collect_counters`, which reads the jobs of that op from the JVM
AppStatusStore (present even with the UI disabled) and attributes
each stage's executor CPU, shuffle and spill to the span of its job.

Per span and op:

* self_s: the span's wall time minus the wall time of its direct
  children
* build_s: self time during which none of the span's own jobs ran,
  i.e. driver-side Python and Catalyst time
* jobs, exec_cpu_s, shuffle_mb (shuffle bytes written), spill_mb
  (bytes spilled to disk)
"""

from __future__ import annotations

import functools
import itertools
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    group: str
    t0: float
    t1: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    job_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def dur_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur_s - self.child_s

    @property
    def build_s(self) -> float:
        return max(0.0, self.self_s - self.job_s)


@dataclass
class Tracer:
    """Spans of one benchmark run. `enabled=False` makes every method
    a no-op, so the untraced run executes the same benchmark code."""
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _op_start: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, parent.sid if parent else None, name,
                 f"perfbench-{sid}", time.time())
        self._stack.append(s)
        sc.setLocalProperty(_GROUP, s.group)
        try:
            yield
        finally:
            s.t1 = time.time()
            self._stack.pop()
            sc.setLocalProperty(_GROUP, parent.group if parent else None)
            if parent is not None:
                parent.child_s += s.dur_s
            self.spans.append(s)

    def wrap(self, name: str, fn):
        """`fn` run inside a span called `name`."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def wrap_factory(self, name: str, factory):
        """A sink factory whose sinks each run inside a span `name`."""
        if not self.enabled:
            return factory

        @functools.wraps(factory)
        def make(*a, **kw):
            return self.wrap(name, factory(*a, **kw))
        return make

    def install(self, workload):
        """The workload's span patches, or nothing when disabled."""
        if not self.enabled:
            return nullcontext()
        return workload.install_spans(self)

    def begin_op(self) -> None:
        self._op_start = len(self.spans)

    def collect_counters(self) -> None:
        """Attribute the jobs of the spans closed since `begin_op`."""
        if not self.enabled:
            return
        by_group = {s.group: s for s in self.spans[self._op_start:]}
        if not by_group:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stage_span: dict[int, Span] = {}
        intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
        tracker = self.spark.sparkContext.statusTracker()
        for group, s in by_group.items():
            for job_id in tracker.getJobIdsForGroup(group):
                j = store.job(job_id)
                s.jobs += 1
                sub, end = j.submissionTime(), j.completionTime()
                if sub.isDefined() and end.isDefined():
                    intervals[s.sid].append(
                        (sub.get().getTime() / 1000.0,
                         end.get().getTime() / 1000.0))
                ids = j.stageIds().mkString(",")
                for st in ids.split(",") if ids else ():
                    stage_span.setdefault(int(st), s)
        for s in by_group.values():
            s.job_s = _union_s(intervals[s.sid], s.t0, s.t1)
        for stage_id, s in stage_span.items():
            # a stage id belongs to one job; a re-used shuffle shows up
            # in later jobs under a fresh, SKIPPED stage id
            st = store.lastStageAttempt(stage_id)
            s.exec_cpu_s += st.executorCpuTime() / 1e9
            s.shuffle_mb += st.shuffleWriteBytes() / 1e6
            s.spill_mb += st.diskBytesSpilled() / 1e6

    def per_op(self, n_ops: int) -> dict[str, dict[str, float]]:
        """{span name: {field: mean per op}} over every closed span."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for s in self.spans:
            f = out[s.name]
            f["self_s"] += s.self_s
            f["build_s"] += s.build_s
            f["jobs"] += s.jobs
            f["exec_cpu_s"] += s.exec_cpu_s
            f["shuffle_mb"] += s.shuffle_mb
            f["spill_mb"] += s.spill_mb
        return {n: {k: v / n_ops for k, v in f.items()}
                for n, f in out.items()}

    def dump(self) -> list[dict]:
        return [{"sid": s.sid, "parent": s.parent, "name": s.name,
                 "t0": s.t0, "t1": s.t1, "self_s": s.self_s,
                 "build_s": s.build_s, "jobs": s.jobs,
                 "exec_cpu_s": s.exec_cpu_s, "shuffle_mb": s.shuffle_mb,
                 "spill_mb": s.spill_mb} for s in self.spans]


def _union_s(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals `iv`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(iv):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
