"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op id) around one call into a layer,
recorded from outside the program. Spans stay in memory until the run
ends; self time is a span's duration minus that of its direct children.
A disabled tracer keeps the same interface and records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.op_id = None
        self.spans: list = []  # [name, start, end, parent index, op id]
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """name -> {"calls", "total_s", "self_s"}."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            agg = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += end - start
            agg["self_s"] += end - start - child[i]
        return out

    def dump(self, path: Path, extra: dict) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        spans = [
            {"name": n, "start_s": s - t0, "end_s": e - t0, "parent": p, "op": op}
            for n, s, e, p, op in self.spans
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "self_times": self.self_times(), "spans": spans}, indent=1))
