"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start and end (seconds since the tracer started), the
span that caused it, and the operation it belongs to.  Spans are kept in
memory and written out once, when the run ends.  Durations are measured
whether or not tracing is enabled; only recording depends on it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "op")

    def __init__(self, name, start, parent, op):
        self.name, self.start, self.end, self.parent, self.op = name, start, None, parent, op

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter() - self.t0, parent, op)
        idx = None
        if self.enabled:
            idx = len(self.spans)
            self.spans.append(sp)
            self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self.t0
            if idx is not None:
                self._stack.pop()

    def self_time(self, idx: int) -> float:
        """A span's duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s.parent == idx]
        return self.spans[idx].duration - sum(k.duration for k in kids)

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "self_s": self.self_time(i),
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f)
