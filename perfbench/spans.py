"""Spans around calls into the engine's public functions.

The tracer patches module attributes from the benchmark side (the
engine is never edited) while installed, and restores them on
``uninstall``. Every span records its name, start, end, parent span and
the request (pass or cycle) it belongs to; self time is the span's
duration minus the time its direct children cover. Spans stay in
memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.request = 0
        # counters that hooks bump next to the spans, keyed by metric name
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._child_time: list[float] = []
        self._hooks: list[tuple[object, str, str, object]] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        """Context manager recording one span called ``name``."""
        return _Span(self, name)

    def hook(self, owner, attr: str, name: str, on_return=None) -> None:
        """Record a span named ``name`` around ``owner.attr`` while installed.

        ``on_return(tracer, result, args)`` runs after the span closes,
        so work it does to derive counts is not charged to the layer.
        """
        self._hooks.append((owner, attr, name, on_return))

    def install(self) -> None:
        for owner, attr, name, on_return in self._hooks:
            orig = getattr(owner, attr)
            setattr(owner, attr, self._traced(orig, name, on_return))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _traced(self, orig, name: str, on_return):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if on_return is not None:
                on_return(self, result, args)
            return result

        return traced

    def self_times(self, request: int) -> dict[str, float]:
        """Summed self time per span name within one request."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["request"] == request:
                out[s["name"]] += s["self_s"]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)
            f.write("\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        t.spans.append(
            {"name": self.name, "request": t.request,
             "parent": t._stack[-1] if t._stack else None,
             "start": time.perf_counter(), "end": None, "self_s": None}
        )
        t._stack.append(len(t.spans) - 1)
        t._child_time.append(0.0)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        end = time.perf_counter()
        span = t.spans[t._stack.pop()]
        children = t._child_time.pop()
        span["end"] = end
        duration = end - span["start"]
        span["self_s"] = duration - children
        if t._child_time:
            t._child_time[-1] += duration
        return False
