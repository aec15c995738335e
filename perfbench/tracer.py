"""In-memory spans and counts for the traced run.

A span is (id, name, start, end, parent, trace): ``trace`` is shared by
every span of one operation (one query, one build, one append).  Spans
are recorded from the benchmark's own files, around calls into the
engine's modules; ``patch`` swaps a module attribute for a timing
wrapper for the length of a ``with`` block.  Nothing is recorded while
the tracer is disabled, and no wrapper is installed, so an untraced run
pays only for an attribute test per span.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self.overhead_s = 0.0  # wall time spent on tracing work itself
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def bookkeeping(self):
        """Time tracing work (counting files, asking Spark for job
        counts) into ``overhead_s``: what an untraced run does not pay."""
        t = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "trace": trace or (parent["trace"] if parent else None),
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def add_span(self, name: str, start: float, end: float,
                 trace: str | None = None) -> None:
        """Record a top-level span timed elsewhere (e.g. on another thread)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"id": next(self._ids), "name": name,
                                   "parent": None, "trace": trace,
                                   "start": start, "end": end})

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts.setdefault(name, []).append(value)

    @contextmanager
    def patch(self, module, attr: str, wrap):
        """Replace ``module.attr`` by ``wrap(original)`` while tracing."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)
        setattr(module, attr, wrap(orig))
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        doc = {
            "spans": [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                      for s in sorted(self.spans, key=lambda s: s["start"])],
            "counts": self.counts,
            "self_s": self.self_times(),
            **extra,
        }
        with open(path, "w") as fp:
            json.dump(doc, fp, indent=1, sort_keys=True)


def med(values) -> float:
    values = list(values)
    return median(values) if values else 0.0
