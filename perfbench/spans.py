"""In-memory spans and the statistics the benchmark reports.

No Spark here: the benchmark's own tests exercise this module directly.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    """One timed call into a layer. ``parent`` is the index of the span
    that was open when this one started (``None`` at the top level)."""

    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans in memory; :meth:`dump` writes them at the end.

    A disabled tracer records nothing, so the untraced run pays only a
    flag test per boundary."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (for example between two
        callbacks of a library hook), as a child of the open span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover.

    Children of one parent run one after another (the benchmark has one
    client thread), but their union is taken anyway so that overlapping
    children are never subtracted twice."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, reach), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out.append((s.end - s.start) - covered)
    return out


# --------------------------------------------------------------------------
# percentiles
# --------------------------------------------------------------------------

#: A reported percentile must have at least this many samples beyond it.
MIN_TAIL = 10
#: The tail percentile reported when there are enough samples for it.
TAIL_P = 90.0


def nearest_rank(p: float, n: int) -> int:
    """1-based rank of percentile ``p`` among ``n`` sorted samples,
    rounded so that float error cannot push it up one place."""
    return math.ceil(round(p * n / 100.0, 9))


def tail_percentile(n: int) -> float:
    """The highest percentile up to :data:`TAIL_P` with at least
    :data:`MIN_TAIL` of ``n`` samples strictly above its rank.

    The rank of percentile ``p`` is :func:`nearest_rank`, leaving
    ``n - rank`` samples beyond it."""
    if n <= MIN_TAIL:
        raise ValueError(f"need more than {MIN_TAIL} samples, got {n}")
    best = 100.0 * (n - MIN_TAIL) / n
    return min(TAIL_P, math.floor(best * 100) / 100)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    rank = max(1, nearest_rank(p, len(ordered)))
    return ordered[rank - 1]
