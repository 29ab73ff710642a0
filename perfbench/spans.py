"""In-memory spans around the benchmark's calls into each engine layer.

A span is ``(id, parent, op, layer, name, start, end, attrs)`` with wall-clock
epoch seconds, so spans taken from Spark's status store and from Catalyst's
planning tracker (both epoch milliseconds) line up with the benchmark's own.
Spans are kept in memory and written once, when the run ends.

With tracing off, ``span`` still times its block (workloads read the
duration back), but nothing is kept.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.op: int | None = None  # id of the op being run, shared by its spans
        self._op_own: list[Span] = []

    def _new(self, layer: str, name: str, start: float, parent: int | None, attrs: dict) -> Span:
        self._next += 1
        return Span(self._next, parent, self.op, layer, name, start, attrs=attrs)

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        """Time the block as a child of the innermost open span. The
        duration is measured with ``perf_counter`` and anchored at the
        wall-clock start."""
        parent = self._stack[-1].id if self._stack else None
        sp = self._new(layer, name, time.time(), parent, attrs)
        self._stack.append(sp)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            self._stack.pop()
            if self.enabled:
                self.spans.append(sp)
                if self.op is not None:
                    self._op_own.append(sp)

    def begin_op(self, op: int) -> None:
        self.op = op
        self._op_own = []

    def op_spans(self) -> list[Span]:
        """The benchmark's own spans recorded for the current op."""
        return list(self._op_own)

    def add(self, layer: str, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job, a Catalyst phase)
        under the innermost of the current op's own spans that contains its
        start, or under the op's outermost span if none does."""
        if not self.enabled or not self._op_own:
            return
        holders = [s for s in self._op_own if s.start <= start < s.end]
        parent = min(holders, key=lambda s: s.dur) if holders else max(self._op_own, key=lambda s: s.dur)
        s = self._new(layer, name, start, parent.id, attrs)
        s.end = end
        self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: (s.start, s.id)):
                f.write(
                    json.dumps(
                        {
                            "id": sp.id,
                            "parent": sp.parent,
                            "op": sp.op,
                            "layer": sp.layer,
                            "name": sp.name,
                            "start": round(sp.start, 6),
                            "end": round(sp.end, 6),
                            "attrs": sp.attrs,
                        }
                    )
                    + "\n"
                )

    def self_times(self) -> dict[str, float]:
        """Per layer: total span time not covered by the span's children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            covered = union_length(
                (max(c.start, sp.start), min(c.end, sp.end)) for c in children.get(sp.id, ())
            )
            out[sp.layer] += max(0.0, sp.dur - covered)
        return dict(out)


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

