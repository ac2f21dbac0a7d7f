"""In-memory span record for the traced run.

Each op records ``op`` as the root span and one child per layer call
(``build`` -> ``plan`` -> ``execute`` or ``compute``). Spans stay in
memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op_id: int
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SpanRecorder:
    def __init__(self):
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: int, parent: Span | None = None):
        s = Span(len(self.spans), name, op_id, None if parent is None else parent.id,
                 time.time())
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, f)


def self_seconds(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name: each span's duration minus the
    part of its interval that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.name] = out.get(s.name, 0.0) + s.seconds - covered
    return out
