"""Spans recorded by the benchmark around its calls into library layers.

A span has a name, a layer, start/end (perf_counter seconds), the span
that caused it and counts. Spans stay in memory and are written out as
JSONL when the run ends. A layer's self time is the summed duration of
its spans minus the part covered by their child spans.

Untraced runs use `NullTracer`, whose spans only time their body, so both
kinds of run execute the same code.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "counts")

    def __init__(self, id, name, layer, parent):
        self.id, self.name, self.layer, self.parent = id, name, layer, parent
        self.start = time.perf_counter()
        self.end = None
        self.counts = {}

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None
                else time.perf_counter()) - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "parent": self.parent, "start": self.start, "end": self.end,
                "counts": self.counts}


class NullTracer:
    @contextmanager
    def span(self, name: str, layer: str):
        sp = Span(None, name, layer, None)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()


class Tracer(NullTracer):
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sp = Span(len(self.spans), name, layer,
                  self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def _within(self, sp: Span, root: Span) -> bool:
        while sp is not None:
            if sp.id == root.id:
                return True
            sp = None if sp.parent is None else self.spans[sp.parent]
        return False

    def self_times(self, under: Span | None = None) -> dict[str, float]:
        """Layer → summed self time of its finished spans, optionally only
        the spans inside `under` (itself included)."""
        child = {}
        for sp in self.spans:
            if sp.parent is not None and sp.end is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.seconds
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.end is None or (under is not None
                                  and not self._within(sp, under)):
                continue
            out[sp.layer] = out.get(sp.layer, 0.0) + \
                sp.seconds - child.get(sp.id, 0.0)
        return out

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def write(self, path) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.as_dict()) + "\n")
