"""Span writer: wraps the program's layer functions from outside and
records one span per call.

A span is (id, name, layer, parent, request, start, end). Spans are kept
in memory and written out when the run ends. While a span is open its id
is set as a Spark local property on the calling thread, so every Spark
job the call triggers carries the id in the event log (see eventlog.py).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    request: str | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0


class Tracer:
    """Records spans; ``install`` patches functions to open one per call."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_property(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span is None else str(span.span_id)
            )

    def open(self, name: str, layer: str, request: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span = Span(
                span_id=next(self._ids),
                name=name,
                layer=layer,
                parent=parent.span_id if parent else None,
                request=request if request is not None else (
                    parent.request if parent else None
                ),
                start=time.time(),
            )
            self.spans.append(span)
        stack.append(span)
        self._set_property(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        self._set_property(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        s = self.open(name, layer, request)
        try:
            yield s
        finally:
            self.close(s)

    def install(self, targets) -> None:
        """Patch each ``(owner, attribute, layer)``: ``owner.attribute``
        is replaced by a wrapper that opens a span named
        ``layer.attribute`` around every call."""
        for owner, attr, layer in targets:
            original = getattr(owner, attr)
            self._patched.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, f"{layer}.{attr}", layer))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals``
    covers (overlapping intervals count once)."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start)
        - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def outermost_per_layer(spans: list[Span]) -> list[Span]:
    """Spans with no ancestor of the same layer, so a layer's wall time
    does not count a nested call of that layer twice."""
    by_id = {s.span_id: s for s in spans}
    out = []
    for s in spans:
        p = by_id.get(s.parent)
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out
