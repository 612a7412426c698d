"""In-memory span recorder for the traced benchmark run.

A span is (id, name, start, end, parent). Spans are kept in a list and
written out once, at the end of the run. A layer's self time is its span's
duration minus the part of that interval its child spans cover. With
tracing off, ``span`` is a no-op context manager, so the untraced run pays
nothing for it.
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
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.perf_counter(), float("nan"), parent)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per span name."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = _covered(sp.start, sp.end, kids.get(sp.id, []))
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(sp) for sp in self.spans], f)


def _covered(start: float, end: float, children: list[Span]) -> float:
    """Length of [start, end] covered by the union of the children's
    intervals, each clipped to [start, end]."""
    total = 0.0
    cur_s = cur_e = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, start), min(c.end, end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
