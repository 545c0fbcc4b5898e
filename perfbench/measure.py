"""Measurement helpers: latency statistics, the per-op Spark ledger and the
span tracer. Nothing here imports the package under test."""

from __future__ import annotations

import functools
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``: with ``n`` samples, the sample at ascending
    rank ``n - 11``. Below 21 samples that percentile would not lie above
    the median, so a short run reports its slowest sample as percentile
    100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 21:
        return xs[-1], 100.0
    rank = n - 11
    return xs[rank], 100.0 * rank / (n - 1)


def intervals_covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            covered += b - max(a, end)
            end = b
    return covered


# -- Spark ledger -------------------------------------------------------------


@dataclass
class OpLedger:
    """What Spark did for one op, read from the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    driver_gap_ms: float = 0.0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_bytes: int = 0
    job_ids_by_group: dict[str, list[int]] = field(default_factory=dict)


class SparkLedger:
    """Tags every op with its own job group and reads back, after the op,
    the jobs, stages and tasks it ran. Job and stage counts come from
    ``statusTracker()``; executor time and shuffle bytes from the
    application status store, which works with the UI disabled."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self._n = 0

    def new_group(self, label: str) -> str:
        self._n += 1
        return f"perfbench-{self._n}-{label}"

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _wait_done(self, job_ids: list[int], timeout_s: float = 10.0) -> None:
        # listener events arrive asynchronously after the action returns
        deadline = time.monotonic() + timeout_s
        pending = set(job_ids)
        while pending and time.monotonic() < deadline:
            for j in list(pending):
                info = self.tracker.getJobInfo(j)
                if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                    job = self.store.job(j)
                    if job.completionTime().isDefined():
                        pending.discard(j)
            if pending:
                time.sleep(0.01)

    def read(self, groups: list[str], t0: float, t1: float) -> OpLedger:
        """Ledger of every job in ``groups``; ``t0``/``t1`` are the op's
        wall-clock bounds in seconds since the epoch."""
        out = OpLedger()
        by_group = {g: sorted(self.tracker.getJobIdsForGroup(g)) for g in groups}
        job_ids = sorted({j for ids in by_group.values() for j in ids})
        out.job_ids_by_group = by_group
        self._wait_done(job_ids)
        spans = []
        for j in job_ids:
            job = self.store.job(j)
            out.jobs += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                spans.append(
                    (job.submissionTime().get().getTime() / 1e3, job.completionTime().get().getTime() / 1e3)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = self.store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # never-submitted stage: nothing ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.failed_tasks += st.numFailedTasks()
                out.executor_run_ms += st.executorRunTime()
                out.executor_cpu_ms += st.executorCpuTime() / 1e6
                out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
        out.driver_gap_ms = ((t1 - t0) - intervals_covered(spans, t0, t1)) * 1e3
        return out


def cache_mb(sc) -> float:
    """Spark storage memory held by cached RDDs and DataFrames, in MB."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 1e6


# -- tracing ------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    group: str = ""


def _original(fn: Callable) -> Callable:
    return fn


class Traced:
    """A function wrapped in a span. It pickles as the function it wraps,
    so Spark ships the original to workers, and binds like a method when
    it replaces one on a class."""

    def __init__(self, tracer: "Tracer", name: str, fn: Callable, label: Callable | None):
        self.tracer, self.name, self.fn, self.label = tracer, name, fn, label
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        span = self.tracer.start(self.label(args, kwargs) if self.label else self.name)
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.tracer.finish(span)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (_original, (self.fn,))


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    covered = intervals_covered([(c.start, c.end) for c in children], span.start, span.end)
    return (span.end - span.start) - covered


class Tracer:
    """In-memory spans around calls into the package. Each span runs its
    Spark jobs under its own job group, so jobs can be attributed to it;
    leaving a span restores the enclosing group."""

    def __init__(self, ledger: SparkLedger | None):
        self.ledger = ledger
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []

    def start(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, name, time.time())
        if self.ledger is not None:
            span.group = self.ledger.new_group(name)
            self.ledger.set_group(span.group)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        if self.ledger is not None and self._stack:
            self.ledger.set_group(self._stack[-1].group)

    def wrap(self, name: str, fn: Callable, label: Callable | None = None) -> "Traced":
        """``label(args, kwargs)``, when given, names each span from the
        call's arguments."""
        return Traced(self, name, fn, label)

    def patch(
        self, name: str, owner: Any, attr: str, modules: list[Any], label: Callable | None = None
    ) -> None:
        """Replace ``owner.attr`` by a traced wrapper, and every module
        attribute in ``modules`` that is the same function object (the
        places that imported it by name)."""
        original = getattr(owner, attr)
        traced = self.wrap(name, original, label)
        for holder in [owner, *modules]:
            for key, value in list(vars(holder).items()):
                if value is original:
                    self._patched.append((holder, key, value))
                    setattr(holder, key, traced)

    def restore(self) -> None:
        while self._patched:
            holder, key, value = self._patched.pop()
            setattr(holder, key, value)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s.parent == pid]
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
