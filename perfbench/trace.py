"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files around calls into the
engine's public functions: ``Tracer.patch`` swaps a module or class attribute
for a timing wrapper *where the caller looks it up* (``runner`` imports
``plan_resume`` by name, so that name is patched in ``runner`` itself), and
``Tracer.restore`` puts every original back.

A span is ``(name, start, end, parent)``; spans nest on one driver thread.
Self time is a span's duration minus the part of its interval that its
direct children cover (``self_times``).
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - covered(kids.get(i, [])) for i, s in enumerate(spans)
    ]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def patch(self, owner, attr: str, name: str, on_call=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``; ``on_call(args,
        kwargs, result)`` may record counts. Class attributes are looked up
        through ``__dict__`` so methods stay unbound functions."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def reset(self) -> None:
        """Drop spans and counts (between ops); patches stay in place."""
        self.spans.clear()
        self.counts.clear()
        self._stack.clear()

    def totals(self) -> dict[str, tuple[float, float, int]]:
        """name -> (total duration, total self time, calls)."""
        out: dict[str, list] = {}
        for s, st in zip(self.spans, self_times(self.spans)):
            acc = out.setdefault(s.name, [0.0, 0.0, 0])
            acc[0] += s.end - s.start
            acc[1] += st
            acc[2] += 1
        return {k: (v[0], v[1], v[2]) for k, v in out.items()}


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> None:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent))
        t._stack.append(len(t.spans) - 1)

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t.spans[t._stack.pop()].end = time.perf_counter()
