"""In-memory spans recorded from the benchmark's own files.

A span is (id, parent, rid, name, start, end): ``rid`` ties every span
of one request or micro-batch together, ``parent`` is the span that was
open when it started. The benchmark opens spans around its own calls
into the program's public functions; nothing in the program changes.
Spans stay in memory and are written out once, at the end. A disabled
tracer records nothing. The tracer is used from one thread.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


def layer(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time the tracer and trace-only reads took
        self._stack: list[int] = []
        self._rid: str | None = None
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        """Time the body; ``rid`` starts a new request or batch id, which
        spans opened inside inherit."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1] if self._stack else None,
            "rid": rid or self._rid,
            "name": name,
        }
        prev_rid, self._rid = self._rid, rec["rid"]
        self._stack.append(rec["id"])
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            self._rid = prev_rid
            rec["start"], rec["end"] = t1, t2
            self.spans.append(rec)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextlib.contextmanager
    def overhead(self):
        """Count the body (a read only traced runs make) as tracing cost."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def add(self, name: str, start: float, end: float, rid: str | None) -> None:
        """Record a span measured elsewhere (a streaming batch from its
        progress report)."""
        if self.enabled:
            self.spans.append(
                {"id": next(self._ids), "parent": None, "rid": rid,
                 "name": name, "start": start, "end": end}
            )

    def _between(self, lo: float | None, hi: float | None) -> list[dict]:
        """Spans overlapping [lo, hi] (all spans when no bounds are given)."""
        return [
            s for s in self.spans
            if (lo is None or s["end"] > lo) and (hi is None or s["start"] < hi)
        ]

    def self_times(self, lo: float | None = None, hi: float | None = None) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans, over
        the spans overlapping [lo, hi]."""
        spans = self._between(lo, hi)
        children: dict[int, list] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            name = layer(s["name"])
            out[name] = out.get(name, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str, lo: float | None = None, hi: float | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self._between(lo, hi) if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
