"""Spans recorded from outside the program.

A :class:`Tracer` wraps public layer functions (module attributes the
program looks up at call time) so that each call records a span: name,
start, end, parent span, thread and run id. Each span also sets
``spark.job.description`` to its tag in the calling thread, so Spark's event
log attributes every job to the innermost open span of the thread that
started it. Spans stay in memory until :meth:`Tracer.dump`.

The program itself is never edited: :meth:`Tracer.patch` swaps a module
attribute for the duration of the traced run and :meth:`Tracer.restore`
puts every original back.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

TAG_PREFIX = "pb"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    thread: str = ""
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}:{self.id}:{self.name}"


def span_id_of_tag(desc: str | None) -> int | None:
    """Inverse of :attr:`Span.tag` for a job description from the event log."""
    if not desc or not desc.startswith(TAG_PREFIX + ":"):
        return None
    try:
        return int(desc.split(":", 2)[1])
    except ValueError:
        return None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its wall minus the part of its interval covered
    by its direct children (overlapping children, e.g. concurrent writers,
    count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        ivs = sorted(
            (max(c.start, s.start), min(c.end or c.start, end))
            for c in children.get(s.id, ())
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = (end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder; thread-safe. ``sc`` is the SparkContext
    whose job description each span sets (None: spans only); span ids
    count from ``first_id``."""

    def __init__(self, sc=None, run_id: str = "", first_id: int = 1):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        # ids stay unique across the tracers sharing one event log
        self._ids = itertools.count(first_id)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        # a thread started inside a span (the crawl's writer pool) has no
        # stack of its own: its spans hang under the main thread's open span
        if threading.current_thread() is not self._main:
            with self._lock:
                open_main = [s for s in self.spans
                             if s.end is None and s.thread == self._main.name]
            return open_main[-1] if open_main else None
        return None

    def _set_desc(self, desc: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.job.description", desc)

    def open(self, name: str, **attrs) -> Span:
        parent = self._parent()
        span = Span(next(self._ids), parent.id if parent else None, name,
                    time.perf_counter(), thread=threading.current_thread().name,
                    run_id=self.run_id, attrs=dict(attrs))
        with self._lock:
            self.spans.append(span)
        self._stack().append(span)
        self._set_desc(span.tag)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        st.remove(span)
        self._set_desc(st[-1].tag if st else None)

    def span(self, name: str, **attrs):
        """Context manager form of :meth:`open` / :meth:`close`."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.open(name, **attrs)
                return self.s

            def __exit__(self, *exc):
                tracer.close(self.s)
                return False

        return _Ctx()

    def wrap(self, fn, name_of, after=None):
        """``fn`` recording one span per call. ``name_of(args, kwargs)``
        names the span (None: call untraced); ``after(span, result, args,
        kwargs)`` may add attributes once the call returned (its own cost
        lands outside the span, inside the parent)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = name_of(args, kwargs)
            if name is None:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(span, result, args, kwargs)
            return result

        return traced

    def patch(self, owner, attr: str, name_of, after=None) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name_of, after))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as a JSON list."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=selfs[s.id])
                       for s in self.spans], f)
