"""In-memory spans for the traced run.

A span has a name, start, end, parent and the run id; spans are kept in
memory and written out once, when the run ends. With tracing off,
``span`` records nothing and costs one attribute test.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)
    self_s: float = 0.0


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        # wall seconds spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(next(self._ids), name, time.time(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id, attrs)
        self._stack.append(sp.id)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t1

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span rebuilt after the fact (micro-batches and phases)."""
        sp = Span(next(self._ids), name, start, end, parent, self.run_id, attrs)
        self.spans.append(sp)
        return sp

    def finish(self) -> None:
        """Compute every span's self time: its duration minus the part of
        its interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for sp in self.spans:
            kids = [(max(c.start, sp.start), min(c.end, sp.end)) for c in children.get(sp.id, ())]
            sp.self_s = (sp.end - sp.start) - covered(kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in sorted(self.spans, key=lambda s: s.start)], fh)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total
