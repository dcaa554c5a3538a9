"""In-memory span recorder for the traced benchmark run.

Spans are recorded by the benchmark around its calls into the program's
layers (nothing inside the program is instrumented).  Each span keeps its
name, start, end, parent span and request id; spans stay in memory and
are written out once, when the run ends.  A span's self time is its
duration minus the part of that interval covered by its children.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Optional


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: Optional[int] = None

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the ``with`` body.  Disabled tracers
        record nothing and cost one branch."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start_ns": time.perf_counter_ns(),
            "end_ns": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            self._stack.pop()

    @contextmanager
    def paused(self, pause: bool = True):
        """Record nothing inside the ``with`` body when ``pause`` is set;
        traced runs time some requests this way to measure the tracing
        overhead against untraced requests of the same run."""
        was = self.enabled
        self.enabled = was and not pause
        try:
            yield
        finally:
            self.enabled = was

    def self_times_ns(self) -> dict[int, int]:
        """Span id -> duration minus its children's durations.  Spans
        nest through one stack, so children never overlap."""
        out = {s["id"]: s["end_ns"] - s["start_ns"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end_ns"] - s["start_ns"]
        return out

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total and self time in ms."""
        selfs = self.self_times_ns()
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                             "self_ms": 0.0})
            row["count"] += 1
            row["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
            row["self_ms"] += selfs[s["id"]] / 1e6
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times_ns()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self_ns=selfs[s["id"]])) + "\n")
