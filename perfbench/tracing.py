"""In-memory spans around calls into the engine's public functions.

A span has a name (the layer, e.g. ``zarr_io.from_zarr``), start and end
times, the id of the span that was open when it started (its parent),
the id of the iteration it belongs to (its trace) and the Spark job
group that was active. Spans stay in memory until the run writes them
once at the end.

``instrument`` replaces module and class attributes with timing wrappers,
so calls the engine makes internally (``Dataset.rechunk`` calling
``rechunk_plan.plan_stages``) are timed too; ``restore`` puts the
originals back. A wrapper records a span only while the tracer is
recording, so traced and untraced iterations can alternate in one run.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.recording = False
        self.trace = 0
        self.group: str | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        """Record ``name`` around the block when recording; yields the
        span (or None) so the block can attach attributes."""
        if not self.recording:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.trace, name, self.clock(),
                 group=self.group, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def wrap(self, fn: Callable, name: str, on_result: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.recording:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    s.attrs.update(on_result(args, kwargs, out))
                return out

        return traced

    def instrument(self, targets: Iterable[tuple[Any, str, str, Callable | None]]) -> None:
        """``targets``: (owner, attribute, span name, on_result) rows;
        ``on_result(args, kwargs, result)`` returns span attributes."""
        for owner, attr, name, on_result in targets:
            orig = getattr(owner, attr)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name, on_result))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "trace": s.trace, "name": s.name,
             "start": s.start, "end": s.end, "group": s.group, "attrs": s.attrs}
            for s in self.spans
        ]


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: Iterable[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part of each span's
    interval its direct children cover."""
    spans = list(spans)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.name] = out.get(s.name, 0.0) + s.seconds - covered(kids)
    return out
