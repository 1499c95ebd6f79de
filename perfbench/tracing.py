"""In-memory spans for the traced run, written out once at the end."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end")

    def __init__(self, sid: int, name: str, op: str | None, parent: int | None):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.start = time.time()
        self.end = self.start

    @property
    def interval(self) -> tuple[float, float]:
        return self.start, self.end


class Tracer:
    """Records spans (name, start, end, parent, op id) when enabled; when
    not, ``span`` yields ``None`` and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: Span | None = None):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, op, parent.sid if parent else None)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()

    def add(self, name: str, start: float, end: float, op: str, parent: Span | None) -> None:
        """Record a span measured elsewhere (e.g. a streaming trigger)."""
        if self.enabled:
            s = Span(len(self.spans), name, op, parent.sid if parent else None)
            s.start, s.end = start, end
            self.spans.append(s)

    def dump(self, path: str, extra: dict) -> None:
        spans = [
            {"id": s.sid, "name": s.name, "op": s.op, "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh)
