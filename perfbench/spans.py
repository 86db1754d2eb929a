"""In-memory spans and counters for the traced run, plus the statistics
the benchmark reports.

A span is recorded around one call into a layer of the program. Spans
carry the unit of work they belong to and the span that caused them,
so a layer's self time is its duration minus the part of that interval
covered by its child spans. Nothing is written until ``dump`` runs at
the end of the benchmark.
"""

from __future__ import annotations

import json
import math
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
MIN_TAIL = 10  # samples that must lie beyond a reported percentile


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    unit: int


class Tracer:
    """Span and counter recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[tuple[int, str], float] = defaultdict(float)
        self._stack: list[int] = []
        self._lock = threading.Lock()  # the stream sink records from its own thread
        self.unit = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            s = Span(sid, name, time.perf_counter(), math.nan, parent, self.unit)
            self.spans.append(s)
            self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                self._stack.remove(sid)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[(self.unit, name)] += value

    def self_times(self) -> dict[int, float]:
        """Self time of every span, by span id."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        return {
            s.id: self_time(s, children.get(s.id, [])) for s in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
            for (unit, name), v in sorted(self.counters.items()):
                fh.write(json.dumps({"counter": name, "unit": unit, "value": v}) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the union of its children's intervals,
    clipped to the span."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
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
    return (span.end - span.start) - covered


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def tail_supported(n: int, q: float) -> bool:
    """True when at least ``MIN_TAIL`` of ``n`` samples lie beyond the
    nearest-rank ``q`` percentile."""
    return n - math.ceil(q * n) >= MIN_TAIL


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None
