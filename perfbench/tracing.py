"""In-memory spans placed by the benchmark around calls into each layer.

A span records (name, layer, start, end, parent span id, op id).  Spans stay
in memory and are written out once, when the run ends.  A layer's self time
is its spans' durations minus the part of each span its child spans cover.
With tracing off, :meth:`Tracer.span` only yields, so untraced runs pay a
function call per boundary and nothing else.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name, "op_id": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["layer"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)
