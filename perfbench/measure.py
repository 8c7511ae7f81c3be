"""Statistics and span bookkeeping for the benchmark (no Spark imports).

- ``percentile`` / ``reportable_percentile``: the sample-count rule for
  the tail percentile ``op_p90_s``: it is reported only when at least
  ``MIN_TAIL`` samples lie beyond it, so it needs 100 samples. Medians
  (``median``) are reported at any sample count, with the count.
- ``stolen_s`` / ``Stopwatch``: CPU time the hypervisor took from the
  machine, and wall time less that time per CPU, so that a busy host
  sharing the machine stretches a measured interval less.
- ``Tracer``: in-memory spans (name, start, end, parent, op id) recorded
  around calls into the program's layers, plus ``self_times``: a span's
  duration minus the part of its interval its child spans cover.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MIN_TAIL = 10
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
NCPU = os.cpu_count() or 1


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_count(n: int, q: float) -> int:
    """Samples strictly beyond the nearest-rank ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def reportable_percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile, or None when fewer than ``MIN_TAIL``
    samples lie beyond it."""
    if tail_count(len(values), q) < MIN_TAIL:
        return None
    return percentile(values, q)


def median(values: list[float]) -> float:
    return statistics.median(values)


def stolen_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    since boot (the steal column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLOCK_TICKS


class Stopwatch:
    """Adds up the wall time of timed blocks, less the CPU time stolen
    from the machine during them divided by its CPUs."""

    def __init__(self) -> None:
        self.seconds = 0.0

    @contextmanager
    def timing(self) -> Iterator[None]:
        t, stolen = time.perf_counter(), stolen_s()
        try:
            yield
        finally:
            self.seconds += time.perf_counter() - t - (stolen_s() - stolen) / NCPU


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into the tracer's span list, -1 for a root
    op: int


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's
    intervals, clipped to the span."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cursor = s.start
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, cursor), min(b, s.end)
            if b > a:
                covered += b - a
                cursor = b
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Records nested spans in memory; ``op`` tags every span opened
    until it is changed."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        return traced

    def layer_self_times(self, ops: set[int]) -> dict[str, float]:
        """Self time summed per span name over the spans of ``ops``."""
        out: dict[str, float] = {}
        for s, t in zip(self.spans, self_times(self.spans)):
            if s.op in ops:
                out[s.name] = out.get(s.name, 0.0) + t
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
