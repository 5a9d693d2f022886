"""Spans recorded from outside the program.

``Tracer`` keeps a thread-local stack of open spans. ``Tracer.wrap``
replaces a public function or method with one that opens a span around
each call; ``Tracer.unwrap_all`` puts the originals back. While a span
is open on a thread, Spark jobs that thread starts carry the span id as
their job group, so the event log attributes each job to the innermost
span that started it.

The aggregation helpers below are pure functions over span records and
intervals, so they can be tested without Spark.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str  # "<layer>.<op>", e.g. "tables.merge" or "operators.freq.exec"
    thread: int
    start: float  # perf_counter seconds
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent inside span enter/exit
        # perf_counter -> epoch seconds, the event log's clock
        self.offset = time.time() - time.perf_counter()

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _label(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(span.id), span.name)

    def enter(self, name: str) -> Span:
        t = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            span = Span(next(self._ids), parent.id if parent else None, name,
                        threading.get_ident(), 0.0)
            self.spans[span.id] = span
            if parent is not None:
                parent.children.append(span.id)
        st.append(span)
        self._label(span)
        span.start = time.perf_counter()
        self._book(span.start - t)
        return span

    def exit(self, span: Span) -> None:
        span.end = t = time.perf_counter()
        st = self._stack()
        st.pop()
        self._label(st[-1] if st else None)
        self._book(time.perf_counter() - t)

    def _book(self, seconds: float) -> None:
        with self._lock:  # spans close on several threads at once
            self.bookkeeping_s += seconds

    def span(self, name: str):
        return _SpanContext(self, name)

    # -- wrapping public calls ------------------------------------------------

    def wrap(self, owner, attr: str, name) -> None:
        """Open a span around every call of ``owner.attr``. ``name`` is
        the span name, or a function of the call's (args, kwargs) that
        returns it."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(original, (staticmethod, classmethod)):
            kind, fn = type(original), original.__func__
        else:
            kind, fn = None, original

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self.enter(name(args, kwargs) if callable(name) else name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.exit(s)

        setattr(owner, attr, kind(traced) if kind else traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.span = self.tracer.enter(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.exit(self.span)


class NullTracer:
    """Tracing off: spans cost one attribute lookup and record nothing."""

    bookkeeping_s = 0.0

    def span(self, name: str):
        return _NULL_CONTEXT


class _NullContext:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL_CONTEXT = _NullContext()


# -- interval arithmetic --------------------------------------------------------

Interval = tuple[float, float]


def union(intervals) -> list[Interval]:
    """Merge overlapping intervals; result sorted and disjoint."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def subtract(base: list[Interval], cut) -> list[Interval]:
    """``base`` minus every interval of ``cut``; both may overlap."""
    cut = union(cut)
    out: list[Interval] = []
    for a, b in union(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def clip(intervals, lo: float, hi: float) -> list[Interval]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


# -- span aggregation -----------------------------------------------------------


def self_intervals(span: Span, spans: dict[int, Span]) -> list[Interval]:
    """The span's interval minus the part its child spans cover (children
    on other threads may overlap each other, hence the union)."""
    return subtract([(span.start, span.end)],
                    [(spans[c].start, spans[c].end) for c in span.children])


def self_time(span: Span, spans: dict[int, Span]) -> float:
    return length(self_intervals(span, spans))


def descendants(span: Span, spans: dict[int, Span]) -> list[Span]:
    out, todo = [], list(span.children)
    while todo:
        s = spans[todo.pop()]
        out.append(s)
        todo.extend(s.children)
    return out


def ancestor_named(span: Span, spans: dict[int, Span], name: str) -> Span | None:
    p = span.parent
    while p is not None:
        if spans[p].name == name:
            return spans[p]
        p = spans[p].parent
    return None


def wall_shares(spans: dict[int, Span], lo: float, hi: float) -> dict[str, float]:
    """Split the wall time ``[lo, hi)`` between layers: at each instant
    every open innermost span (a span none of whose children is open)
    gets an equal slice. Instants with no open span go to ``""``. The
    shares sum to ``hi - lo``."""
    pieces: list[tuple[float, float, str]] = []
    for s in spans.values():
        for a, b in clip(self_intervals(s, spans), lo, hi):
            pieces.append((a, b, s.layer))
    cuts = sorted({lo, hi, *(p[0] for p in pieces), *(p[1] for p in pieces)})
    out: dict[str, float] = {}
    pieces.sort()
    active: list[tuple[float, float, str]] = []
    i = 0
    for a, b in zip(cuts, cuts[1:]):
        while i < len(pieces) and pieces[i][0] <= a:
            active.append(pieces[i])
            i += 1
        active = [p for p in active if p[1] > a]
        now = [p[2] for p in active if p[0] <= a and p[1] >= b]
        if not now:
            out[""] = out.get("", 0.0) + (b - a)
            continue
        for layer in now:
            out[layer] = out.get(layer, 0.0) + (b - a) / len(now)
    return out


# -- latency summaries -----------------------------------------------------------


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs, beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile that
    leaves at least ``beyond`` samples above it. With ``beyond`` or fewer
    samples no percentile qualifies; the maximum is returned with
    percentile 100, so the caller can see the tail is unsupported."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    rank = n - beyond  # 1-based rank; exactly `beyond` samples follow it
    return xs[rank - 1], 100.0 * rank / n, n


def geomean(xs) -> float:
    import math

    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
