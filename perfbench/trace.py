"""Spans recorded around calls into the program, from outside it.

``Tracer.wrap`` replaces a function on a module, class or instance with a
wrapper that records a span per call: name, start, end, the span that
caused it, and a trace id (a trigger's batch id, or query and pass).
Spans stay in memory and are written out once, at the end of the run.
Wrapping adds nothing while ``enabled`` is off, so one run can time
traced and untraced units against each other.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def interval(self) -> tuple[float, float]:
        return self.start, self.end


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        #: trace id given to spans opened from now on
        self.trace = ""
        #: parent for spans opened on threads with no open span of their
        #: own, e.g. sink writes the pipeline hands to a thread pool
        self.root: Span | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def open(self, name: str) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.root
        span = Span(
            next(self._ids),
            name,
            self.trace,
            parent.id if parent else None,
            time.perf_counter(),
        )
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._local.stack.pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        if not self.enabled:
            yield None
            return
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, owner, attr: str, name: str, trace_arg: int | None = None,
             root: bool = False, always: bool = False) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``trace_arg`` names a positional argument whose
        value becomes the trace id; ``root`` makes the span the parent of
        spans other threads open while it runs; ``always`` records even
        while tracing is off (for rare calls such as a schema change)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (self.enabled or always):
                return fn(*args, **kwargs)
            if trace_arg is not None:
                self.trace = f"{name}:{args[trace_arg]}"
            span = self.open(name)
            if root:
                self.root = span
            try:
                return fn(*args, **kwargs)
            finally:
                if root:
                    self.root = None
                self.close(span)

        setattr(owner, attr, traced)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
