"""In-memory spans around the program's public layer functions.

Spans are recorded by wrapping module attributes from the benchmark's own
files (:meth:`Tracer.wrap`); nothing under ``processo_etl_spark/`` changes.
Each span has a name, start, end, parent and run id; they stay in memory
and are written out as JSON when the run ends.  A layer's self time is its
span duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Span recorder; ``enabled=False`` makes every hook a plain call."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run = ""
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, time.perf_counter(), 0.0, parent, self.run)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanning wrapper (undone by
        :meth:`unwrap_all`).  Calls through the module attribute — the way
        the program calls across its layers — are then traced."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            a, b = max(c.start, end), min(c.end, s.end)
            if b > a:
                covered += b - a
                end = b
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span], run: str | None = None) -> dict[str, float]:
    """Summed self time per span name (optionally for one run id)."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if run is None or s.run == run:
            out[s.name] += own[s.id]
    return dict(out)


def call_counts(spans: list[Span], run: str | None = None) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for s in spans:
        if run is None or s.run == run:
            out[s.name] += 1
    return dict(out)
