"""Pure helpers of the traced run and the timing summaries: spans kept
in memory, self time, job-to-span attribution by time window, the
tail-percentile rule and artifact-build detection from a directory
listing. Nothing here touches Spark, so the self-tests run without it.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

# A tail percentile keeps at least this many samples beyond it.
MIN_BEYOND = 10


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    call_id: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded at layer boundaries, kept in memory until the run
    ends. ``span`` nests: a span opened inside another names it as
    parent, and inherits its call id unless given one."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, call_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if call_id is None and parent is not None:
            call_id = parent.call_id
        s = Span(len(self.spans), name, self.clock(), math.nan,
                 parent.span_id if parent else None, call_id)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (children may overlap each other; the union is subtracted)."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans if c.parent == span.span_id
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
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
    return span.dur - covered


def attribute(times: list[float], spans: list[Span]) -> list[int | None]:
    """For each timestamp (a job's submission time), the id of the
    innermost span whose window holds it, else None. Jobs are matched
    by time rather than by job group because work submitted from a
    thread pool loses the submitting thread's group."""
    out: list[int | None] = []
    for t in times:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        out.append(best.span_id if best else None)
    return out


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least
    MIN_BEYOND samples above it: the (MIN_BEYOND + 1)-th largest value,
    at rank k = n - MIN_BEYOND of n. With too few samples for that,
    the maximum at percentile 100."""
    xs = sorted(values)
    k = len(xs) - MIN_BEYOND
    if k < 1:
        return 100.0, xs[-1]
    return 100.0 * k / len(xs), xs[k - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def listing(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            full = os.path.join(dirpath, fn)
            try:
                out[os.path.relpath(full, root)] = os.path.getsize(full)
            except OSError:
                continue
    return out


def artifact_builds(before: dict[str, int], after: dict[str, int]) -> list[str]:
    """Artifacts that appeared between two listings of the cache root.
    An artifact is the first two path levels (``kind/key``): the cache
    installs each build as one directory or file under its kind."""
    def arts(lst):
        return {"/".join(p.split(os.sep)[:2]) for p in lst}
    return sorted(arts(after) - arts(before))
