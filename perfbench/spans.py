"""In-memory spans for the traced run.

A span has a name, start, end, parent and trace id (the document url or the
workload run). Spans stay in memory and are written once, at the end of the
run. A span's self time is its duration minus the part of its interval that
its children cover; children may overlap, so coverage is the measure of the
union of their intervals clipped to the parent.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int  # -1 for a root span
    trace: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str):
        parent = self._stack[-1] if self._stack else -1
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, trace))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus child coverage."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.dur - covered(s.start, s.end, kids.get(s.span_id, [])) for s in spans}


def totals_by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """name -> {count, total_s, self_s}."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.dur
        row["self_s"] += selfs[s.span_id]
    return out
