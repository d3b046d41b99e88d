"""Spans around the calls into each layer, and Spark job accounting.

The traced run wraps the engine's public functions at the module attribute
the caller looks them up through (for example ``pipeline.probe_headers``),
so every call opens a :class:`Span`. Spans are kept in memory and turned
into per-layer numbers after the op. Spans must open and close on one
thread; the engine's own worker threads run inside a span, not as spans.

Jobs in a span are the highest Spark job ID seen when it closes minus the
highest seen when it opened. Job IDs rise in order and the tracer never
lets its observed maximum fall, so the count cannot go negative, even when
the status store has dropped old jobs.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span in Tracer.spans
    job_lo: int = -1  # highest job ID seen when the span opened
    job_hi: int = -1  # ... and when it closed
    label: str = ""  # e.g. the query a plans/exec span belongs to
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return job_range_count(self.job_lo, self.job_hi)


def job_range_count(before: int, after: int) -> int:
    """Jobs started between two observations of the highest job ID."""
    return after - before


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
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
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [sp.s - covered(kids.get(i, []), sp.start, sp.end) for i, sp in enumerate(spans)]


def self_sum_ratio(spans: list[Span], wall: float) -> float:
    """Sum of the spans' self times over the op wall time, which is measured
    outside any span. Time inside the op that no span covers pulls it below
    1; sibling spans that overlap push it above 1."""
    return sum(self_times(spans)) / wall


def uncovered_ops(traced_ops: list[tuple[float, list[Span]]], tolerance: float) -> list[str]:
    """The traced ops whose span self times do not add up to the op wall
    within ``tolerance`` (as a share of the wall)."""
    return [
        f"traced op {i}: span self times sum to {r:.4f} of the op wall"
        for i, r in enumerate(self_sum_ratio(spans, wall) for wall, spans in traced_ops)
        if abs(r - 1) > tolerance
    ]


def self_jobs(spans: list[Span]) -> list[int]:
    """Each span's jobs minus the jobs of its child spans."""
    out = [sp.jobs for sp in spans]
    for sp in spans:
        if sp.parent is not None:
            out[sp.parent] -= sp.jobs
    return out


class Tracer:
    """Collects spans; ``observe_max_job`` returns the highest job ID the
    engine has started so far (-1 before the first)."""

    def __init__(self, observe_max_job: Callable[[], int], clock: Callable[[], float] = time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._observe = observe_max_job
        self._clock = clock
        self._max_job = -1

    def job_mark(self) -> int:
        self._max_job = max(self._max_job, self._observe())
        return self._max_job

    @contextmanager
    def span(self, name: str, label: str = "") -> Iterator[Span]:
        # the span's interval covers its own job marks, so tracer work shows
        # as span time, not as time no span covers
        start = self._clock()
        sp = Span(name, start, parent=self._stack[-1] if self._stack else None, job_lo=self.job_mark(), label=label)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.job_hi = self.job_mark()
            sp.end = self._clock()

    def take(self) -> list[Span]:
        """Hand over the spans recorded so far and start a new list."""
        spans, self.spans = self.spans, []
        return spans

    def wrap(self, fn: Callable, name: str, on_result: Callable | None = None) -> Callable:
        """``fn`` with every call recorded as span ``name``; ``on_result(span,
        args, result)`` may add counts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        return traced


@contextmanager
def patched(targets: list[tuple[object, str, Callable]]) -> Iterator[None]:
    """Set ``obj.attr = value`` for each target; restore on exit."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, value in targets:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in reversed(saved):
            setattr(obj, attr, value)


def summarize(spans: list[Span]) -> dict[str, float]:
    """Per-layer totals of one op: ``<name>.s``, ``.self_s``, ``.jobs``,
    ``.self_jobs``, ``.calls`` and every count, summed over the op's spans;
    labelled spans also give ``<name>.s.<label>``."""
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for sp, st, sj in zip(spans, self_times(spans), self_jobs(spans)):
        add(f"{sp.name}.s", sp.s)
        add(f"{sp.name}.self_s", st)
        add(f"{sp.name}.jobs", sp.jobs)
        add(f"{sp.name}.self_jobs", sj)
        add(f"{sp.name}.calls", 1)
        if sp.label:
            add(f"{sp.name}.s.{sp.label}", sp.s)
        for k, v in sp.counts.items():
            add(f"{sp.name}.{k}", v)
    return out
