"""Spans, self time and the summary statistics the benchmark reports.

Spark-free, so its rules are tested without a JVM
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time


def ns_to_ms(ns: float) -> float:
    """Spark reports executor CPU time in ns and run time in ms."""
    return ns / 1e6


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """The highest whole percentile p whose value has at least
    ``min_beyond`` samples strictly beyond its rank, as ``(p, value)``;
    ``None`` when there are too few samples for any such percentile.

    With n sorted samples, percentile p sits at rank ceil(p/100 * n)
    (1-based, nearest-rank), leaving n - rank samples beyond it."""
    n = len(samples)
    if n <= min_beyond:
        return None
    xs = sorted(samples)
    for p in range(99, 0, -1):
        rank = max(1, -(-p * n // 100))
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it covered by its direct children
    (overlapping children are merged, and clipped to the span)."""
    lo, hi = span["start"], span["end"]
    ivs = sorted(
        (max(lo, c["start"]), min(hi, c["end"]))
        for c in spans
        if c["parent"] == span["id"]
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


class Tracer:
    """In-memory spans: name, start, end, parent and the op id shared by
    every span of one operation. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {
            "id": next(self._ids),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def self_times(self) -> dict[str, float]:
        """Total self time in seconds per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, self.spans)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times(), **extra},
                f,
                default=str,
            )
