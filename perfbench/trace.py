"""In-memory spans for the traced run.

A span has a name, start, end, parent and the run id. Spans are kept in
memory and written out once, when the run ends. With tracing off,
:meth:`Tracer.span` still yields but records nothing. ``spent_s`` adds
up the time the tracer's own bookkeeping takes.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.spent_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.spent_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            self._stack.pop()
            rec["end"] = time.time()
            self.spent_s += time.perf_counter() - t0

    def add(self, name: str, start: float, end: float, parent: dict | None, **attrs) -> None:
        """A span measured elsewhere (a micro-batch from its progress
        event), attached under ``parent``."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent["id"] if parent else None, "run_id": self.run_id}
        rec.update(attrs)
        self.spans.append(rec)
        self.spent_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total ms and self ms (the span's time
        minus the part of it its children cover)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur = 0.0, lo
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                a, b = max(c["start"], cur), min(c["end"], hi)
                if b > a:
                    covered += b - a
                    cur = b
            agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += (hi - lo) * 1000
            agg["self_ms"] += (hi - lo - covered) * 1000
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_times": self.self_times()}, f, indent=1, default=str)
