"""In-memory spans, self times and the percentile rule.

A span is recorded around each call the benchmark makes into a layer of the
engine. Spans are kept in memory and written out once, when the run ends, so
recording costs one clock read and one list append per boundary.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import time
from collections import defaultdict

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


class Tracer:
    """Records ``(id, name, start, end, parent, op)`` spans when enabled; a
    disabled tracer records nothing and costs one branch per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered by the
    union of its children (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [(max(a, lo), min(b, hi)) for a, b in children[s["id"]]]
        covered = _union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name, in seconds."""
    names = {s["id"]: s["name"] for s in spans}
    totals: dict[str, float] = defaultdict(float)
    for sid, t in self_times(spans).items():
        totals[names[sid]] += t
    return dict(totals)


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile, or None unless at least ``MIN_BEYOND``
    samples rank above it."""
    if not samples:
        return None
    ordered = sorted(samples)
    idx = max(0, math.ceil(q * len(ordered)) - 1)
    if len(ordered) - (idx + 1) < MIN_BEYOND:
        return None
    return ordered[idx]


def tail(samples: list[float]) -> tuple[str, float] | None:
    """The highest of p99/p95/p90/p75 that has ``MIN_BEYOND`` samples
    beyond it, as ``("p90", value)``; None when even p75 has too few."""
    for q in (0.99, 0.95, 0.9, 0.75):
        v = percentile(samples, q)
        if v is not None:
            return f"p{round(q * 100)}", v
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0
