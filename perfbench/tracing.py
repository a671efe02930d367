"""In-memory spans around the calls the benchmark makes into each layer.

A span records name, start, end, its parent span and a trace id of
``(workload, batch_id)``.  Spans nest through a per-thread stack (every
``foreachBatch`` callback runs on the stream's own thread), stay in
memory, and are written out once, when the run ends.  Self time is a
span's duration minus the part of it its child spans cover.

The disabled tracer records nothing: ``wrap`` returns the callable it
was given, so untraced runs execute exactly the program's own calls.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    trace: tuple[str, int]
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, batch_id: int) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            span = Span(
                len(self.spans),
                name,
                (self.workload, int(batch_id)),
                stack[-1].sid if stack else None,
                time.perf_counter(),
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        # close any child left open by an exception, then the span itself
        while stack and stack[-1] is not span:
            stack.pop().end = span.end
        if stack:
            stack.pop()

    def wrap(self, name: str, fn: Callable, batch_arg: int | None = 1) -> Callable:
        """``fn`` inside a span; the trace's batch id is positional
        argument ``batch_arg`` (None: the innermost open span's)."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            if batch_arg is not None and len(args) > batch_arg:
                bid = args[batch_arg]
            else:
                stack = self._stack()
                bid = stack[-1].trace[1] if stack else -1
            span = self.open(name, bid)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    # -- analysis -----------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self seconds per span name."""
        child_cover: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child_cover[s.sid]
        return dict(out)

    def busy(self) -> dict[str, float]:
        """Total inclusive seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.sid,
                        "name": s.name,
                        "trace": list(s.trace),
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                    }
                    for s in self.spans
                ],
                fh,
            )
