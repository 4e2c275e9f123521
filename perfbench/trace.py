"""In-memory spans, written out once when the benchmark ends."""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    run_id: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one benchmark invocation. `span()` nests: a span opened
    inside another records it as its parent (by index in `spans`)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts: float):
        s = Span(name, self.run_id, time.monotonic(), parent=self._stack[-1] if self._stack else None)
        s.counts.update(counts)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.monotonic()

    def to_json(self) -> list[dict]:
        return [dict(asdict(s), seconds=s.seconds) for s in self.spans]
