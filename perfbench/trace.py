"""In-memory spans for the traced run.

A span records a name, start, end, its parent span and a trace id shared
by every span under one root.  Spans are recorded by the benchmark around
its calls into the package, not inside the package.  A span's self time
is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._traces = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._traces += 1
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": f"t{self._traces}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(rec) - covered

    def dump(self, path: str, metrics: dict) -> None:
        """Spans (times relative to the first span, with self times) and
        the run's per-layer metrics, as one JSON document."""
        t0 = min((r["start"] for r in self.spans), default=0.0)
        out = [
            dict(
                r,
                start=r["start"] - t0,
                end=r["end"] - t0,
                self_s=self.self_time(r),
            )
            for r in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": out, "metrics": metrics}, fh, indent=1)
