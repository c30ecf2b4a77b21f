"""In-memory span recorder for the traced run.

Spans are opened by the benchmark's own code around calls into each
layer's public functions — the engine itself is never edited. Each
span has a name, start, end, parent span and operation id; spans stay
in memory and are written out once, when the run ends.

A layer's *self time* is its span's duration minus the part of that
interval its child spans cover (:func:`self_times`).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None
        #: wrappers record spans only while enabled (traced operations)
        self.enabled = True

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, self.clock(), float("nan"), parent, self.op)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = self.clock()

    def wrap(self, owner, attr: str, name: str, annotate=None):
        """Replace ``owner.attr`` by a spanned wrapper; returns an undo
        callable. Wrap a helper where its caller looks it up: a module
        that did ``from x import f`` holds its own reference to ``f``.
        ``annotate(span, result, *args)`` may record counts on the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
            if annotate is not None:
                annotate(sp, out, *args)
            return out

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span, by span id."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {s.id: self_time(s, kids[s.id]) for s in spans}


def by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: call count, summed duration and summed self time."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "s": 0.0, "self_s": 0.0}
    )
    for s in spans:
        agg = out[s.name]
        agg["calls"] += 1
        agg["s"] += s.end - s.start
        agg["self_s"] += selfs[s.id]
    return dict(out)
