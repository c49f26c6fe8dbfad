"""In-memory span recorder for the traced benchmark run.

Spans are recorded only in the benchmark's own code, around its calls
into the engine's public API; nothing inside the engine is instrumented.
A span is ``(name, layer, start, end, parent, op)``. With tracing off,
``span()`` returns a shared no-op context, so the untraced run pays one
attribute check per call site.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None


class _Noop:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


class Tracer:
    """Records nested spans per thread. ``enabled`` may be toggled
    between ops (the traced run interleaves traced and untraced ops to
    measure the tracing overhead)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str, layer: str, op: int | None = None):
        if not self.enabled:
            return _NOOP
        return self._span(name, layer, op)

    @contextmanager
    def _span(self, name: str, layer: str, op: int | None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, op))
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[tuple[int | None, str], float]:
        """(op, layer) -> self time: each span's duration minus the part
        its children cover."""
        child_cover: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.end - s.start
        out: dict[tuple[int | None, str], float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[(s.op, s.layer)] += (s.end - s.start) - child_cover[i]
        return out

    def by_name(self, names: set[str] | None = None) -> dict[tuple[int | None, str], float]:
        """(op, span name) -> summed duration."""
        out: dict[tuple[int | None, str], float] = defaultdict(float)
        for s in self.spans:
            if names is None or s.name in names:
                out[(s.op, s.name)] += s.end - s.start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(vars(s)) + "\n")

