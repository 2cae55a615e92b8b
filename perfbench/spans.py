"""In-memory spans for a traced benchmark run.

A span records a name, start, end, the span that caused it and the run id
(one id per pass). Spans are kept in memory and written out once, at the
end of the run. A span's self time is its duration minus the part of its
interval that its child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when enabled; otherwise ``span`` only yields ``None``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.run_id = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, parent, self.run_id, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name, in seconds."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "summary": summary,
                    "self_time_s": self.self_times(),
                    "spans": [asdict(s) for s in self.spans],
                },
                f,
                indent=1,
            )
