"""Spans kept in memory, the self-time arithmetic over them, and wrappers
that open a span around a layer's public function.

A span is one timed interval (name, start, end, parent, query id, pass).
Spans are recorded from the benchmark's own files only: around each
query's construction and action, around Spark's own job and Catalyst
phase intervals read back after the action, and around the public
functions of the io/ and llmdata/ layers, wrapped at every name their
callers resolve. Nothing in the engine is edited.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None
    pass_no: int | None
    detail: str | None = None


class Tracer:
    """Collects spans of one process. ``parent`` is the index of the
    innermost span still open when a span starts. Wrapped functions may
    run on a Py4J callback thread (a streaming ``foreachBatch``) while the
    main thread waits inside its own span, so one stack serves both."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.query: str | None = None
        self.pass_no: int | None = None

    @contextmanager
    def span(self, name: str, detail: str | None = None):
        parent = self._open[-1] if self._open else None
        idx = self.add(name, time.perf_counter(), 0.0, parent, detail)
        self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._open.remove(idx)

    def add(self, name: str, start: float, end: float, parent: int | None,
            detail: str | None = None) -> int:
        self.spans.append(
            Span(name, start, end, parent, self.query, self.pass_no, detail))
        return len(self.spans) - 1

    def innermost(self, first: int, start: float, end: float) -> int | None:
        """Index of the shortest span from ``first`` on that contains
        ``[start, end]``; Spark's clock has millisecond steps, so the bounds
        get one step of slack."""
        best = None
        for i in range(first, len(self.spans)):
            s = self.spans[i]
            if s.start - 1e-3 <= start and end <= s.end + 1e-3:
                if best is None or s.end - s.start < self.spans[best].end - self.spans[best].start:
                    best = i
        return best

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.
    Overlapping children count once; a child sticking out of its parent
    counts only inside it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def layer_self_times(spans: list[Span], keep=lambda s: True) -> dict[str, float]:
    """Self time summed by span name, over the spans ``keep`` accepts.
    ``spans`` is a whole trace, since parents are indices into it."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        if keep(s):
            out[s.name] = out.get(s.name, 0.0) + t
    return out


@contextmanager
def wrapped(tracer: Tracer, targets: list[tuple], prefix: str):
    """Open span ``name`` around ``getattr(module, attr)`` for each
    ``(name, module, attr, detail)``, replacing the function at every module
    under ``prefix`` that bound it (``from x import f`` binds a second
    name), and restore all of them on exit. ``detail``, if not None, maps
    the call's arguments to a label kept on the span."""
    patched: list[tuple[object, str, object]] = []
    try:
        for span_name, module, attr, detail in targets:
            orig = getattr(module, attr)

            def make(fn, name, detail):
                @functools.wraps(fn)
                def traced(*args, **kwargs):
                    label = detail(args, kwargs) if detail else None
                    with tracer.span(name, label):
                        return fn(*args, **kwargs)

                return traced

            wrapper = make(orig, span_name, detail)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith(prefix) and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapper)
                    patched.append((mod, attr, orig))
        yield
    finally:
        for mod, attr, orig in reversed(patched):
            setattr(mod, attr, orig)
