"""In-memory spans and counters for the benchmark's traced runs.

A span is (name, start, end, parent) plus the trace id of the workload run
it belongs to. Spans are recorded by the benchmark around its calls into
each package layer, or built afterwards from times Spark reports (trigger
phases). Nothing is written until :meth:`Tracer.write`, which also derives
each span's self time: its duration minus the part of it that its children
cover.

An untraced run uses a disabled tracer: ``span`` still yields, ``add`` and
``count`` do nothing, so the timed code is the same in both modes.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: Optional[int]
    trace_id: str
    attrs: dict

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(start: float, end: float, children: List[Span]) -> float:
    """Length of [start, end] covered by the union of the children."""
    ivs = sorted((max(c.start, start), min(c.end, end)) for c in children)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
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


class Tracer:
    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: List[Span] = []
        self.counters: Dict[str, List[float]] = defaultdict(list)
        self._stack: List[int] = []

    @property
    def current(self) -> Optional[int]:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Optional[Span]]:
        """Time the body as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        sp = self.add(name, time.time(), 0.0, parent=self.current, **attrs)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(
        self, name: str, start: float, end: float, parent: Optional[int], **attrs
    ) -> Optional[Span]:
        """Record a span whose times are already known."""
        if not self.enabled:
            return None
        sp = Span(len(self.spans), name, start, end, parent, self.trace_id, attrs)
        self.spans.append(sp)
        return sp

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name].append(value)

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> Dict[int, float]:
        children: Dict[Optional[int], List[Span]] = defaultdict(list)
        for s in self.spans:
            children[s.parent].append(s)
        return {
            s.id: s.duration - _covered(s.start, s.end, children[s.id])
            for s in self.spans
        }

    def self_time_by_name(self) -> Dict[str, float]:
        out: Dict[str, float] = defaultdict(float)
        st = self.self_times()
        for s in self.spans:
            out[s.name] += st[s.id]
        return dict(out)

    def write(self, path: str, metrics: dict) -> None:
        st = self.self_times()
        doc = {
            "trace_id": self.trace_id,
            "spans": [dict(asdict(s), self_s=st[s.id]) for s in self.spans],
            "self_s_by_name": self.self_time_by_name(),
            "counters": dict(self.counters),
            "metrics": metrics,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
