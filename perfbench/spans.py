"""In-memory spans for the traced run.

A span records its name, start, end, parent span and operation id, plus
the status-store counter delta taken at its boundaries when the caller
asks for one.  Spans stay in memory and are written out once, when the
benchmark ends.  With tracing off every call is a no-op, so the timed
run and the traced run execute the same code path.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "counters",
                 "attrs")

    def __init__(self, sid, name, parent, op, start):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start, self.end = start, None
        self.counters = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        d = {"id": self.sid, "name": self.name, "parent": self.parent,
             "op": self.op, "start": self.start, "end": self.end, **self.attrs}
        if self.counters is not None:
            d["counters"] = self.counters.as_dict()
            d["counter_errors"] = self.counters.errors
        return d


class Tracer:
    """Records spans while ``on``; ``probe`` (a counters.StatusProbe)
    supplies the counter deltas."""

    def __init__(self, probe=None) -> None:
        self.on = False
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, counters: bool = False):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if counters and self.probe is not None:
            # drop the previous interval so this span's delta holds
            # only its own work
            self.probe.skip()
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            if counters and self.probe is not None:
                s.counters = self.probe.delta()

    def wrap(self, module, name: str, span_name: str) -> None:
        """Replace ``module.name`` with a version that records a span
        around each call (callers that look the function up through the
        module see it)."""
        fn = getattr(module, name)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(span_name):
                return fn(*a, **kw)

        setattr(module, name, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)

    def top_level(self, prefix: str, spans: list[Span]) -> list[Span]:
        """Spans named ``prefix*`` whose parent is not itself such a
        span (nested calls of one layer are counted once)."""
        by_id = {s.sid: s for s in self.spans}
        return [s for s in spans if s.name.startswith(prefix)
                and not (s.parent is not None
                         and by_id[s.parent].name.startswith(prefix))]
