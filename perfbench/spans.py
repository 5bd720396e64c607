"""In-memory span recorder.

A span is one call into a layer: name, start, end, parent, and, when
counted, the Spark counters of the jobs and stages it created (see
:mod:`sparkstats`). Spans stay in memory and are written out once, at
the end of the run. A layer's self time is its span's duration minus
the time its child spans cover.

Span timing alone costs two clock reads, so the untraced run records
spans too (task latencies come from them). Tracing adds a Spark
counter window and an output-file count to every span; the time that
bookkeeping takes is kept in :attr:`Recorder.overhead_s`.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from sparkstats import StageCounter, Window


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    window: Window | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def count_files(path: str) -> int:
    return sum(1 for p in Path(path).rglob("*.parquet") if not p.name.startswith((".", "_")))


class Recorder:
    """Collects spans. ``trace`` opens a counter window on every span;
    otherwise only spans opened with ``count=True`` get one."""

    def __init__(self, counter: StageCounter, trace: bool):
        self.counter = counter
        self.trace = trace
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, count: bool = False, **attrs):
        t0 = time.perf_counter()
        window = self.counter.mark() if (self.trace or count) else None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, 0.0, window=window, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        if self.trace:
            self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if window is not None:
                self.counter.close(window)
            if self.trace and "out_dir" in attrs:
                s.attrs["files"] = count_files(attrs["out_dir"])
            self._stack.pop()
            if self.trace:
                self.overhead_s += time.perf_counter() - s.end

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus its children's durations (children
        of one parent never overlap: one driver thread)."""
        out = {s.id: s.duration for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def counters(self, s: Span) -> dict[str, float]:
        return self.counter.delta(s.window) if s.window is not None else {}

    def dump(self, path: Path) -> None:
        self_t = self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "duration_s": s.duration, "self_s": self_t[s.id],
                    "attrs": s.attrs, "spark": self.counters(s),
                }) + "\n")
