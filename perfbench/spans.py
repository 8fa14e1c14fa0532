"""In-memory span tracing from the benchmark's own code.

A span is ``(id, parent, name, layer, request, start, end)``. Spans nest
per thread (the generator thread keeps its own stack), are kept in a
list while the run goes on and are written out once, at the end. The
untraced runs use :class:`NullTracer`, whose ``span`` does nothing, so
end-to-end figures are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict

# Layers are named after the program's modules.
SESSION = "session"
PRODUCER = "sources.cascade_bus.producer"
READER = "sources.cascade_bus.reader"
WRITER = "sources.cascade_bus.writer"
STREAMING = "streaming"
OPERATORS = "operators"
COMPARE = "plans.compare"
BENCH = "bench"
LAYERS = (SESSION, PRODUCER, READER, WRITER, STREAMING, OPERATORS, COMPARE, BENCH)


class NullTracer:
    enabled = False

    def span(self, name: str, layer: str, req=None):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, req=None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, layer, req, start, end))

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the time its child spans cover,
        summed per layer."""
        child_s: dict[int, float] = defaultdict(float)
        for _, parent, _, _, _, start, end in self.spans:
            if parent is not None:
                child_s[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, _, _, layer, _, start, end in self.spans:
            out[layer] += (end - start - child_s[sid]) * 1000.0
        return dict(out)

    def span_cost_ms(self, n: int = 20_000) -> float:
        """Measured cost of recording one span, on a throwaway tracer."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("x", BENCH):
                pass
        return (time.perf_counter() - t0) * 1000.0 / n

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s[5] for s in self.spans), default=0.0)
        rows = [
            {
                "id": sid,
                "parent": parent,
                "name": name,
                "layer": layer,
                "request": req,
                "start_ms": round((start - t0) * 1000.0, 3),
                "end_ms": round((end - t0) * 1000.0, 3),
            }
            for sid, parent, name, layer, req, start, end in sorted(
                self.spans, key=lambda s: s[5]
            )
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh)
