"""Small statistics and bookkeeping shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics
import time
import traceback

# Candidate percentiles for the tail, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# samples the tail percentile must leave strictly above it
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values):
    """The highest percentile in TAIL_LADDER with at least TAIL_BEYOND
    samples strictly above it, as (percentile, value); None when even
    the median has fewer than TAIL_BEYOND samples above it."""
    xs = sorted(values)
    best = None
    for p in TAIL_LADDER:
        # nearest-rank percentile: smallest value with >= p% at or below
        rank = max(1, math.ceil(p / 100.0 * len(xs)))
        v = xs[rank - 1] if xs else None
        if v is None or sum(1 for x in xs if x > v) < TAIL_BEYOND:
            break
        best = (p, v)
    return best


class Tally:
    """Operations attempted and failed. An operation fails when it raises
    or when its output check fails; both count, none is dropped."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, op, check) -> tuple[float, bool]:
        """Time ``op()``, then ``check(result)`` outside the timing.
        Returns (wall seconds, ok)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = op()
        except Exception:
            wall = time.perf_counter() - t0
            self._fail(traceback.format_exc(limit=3))
            return wall, False
        wall = time.perf_counter() - t0
        try:
            check(result)
        except Exception:
            self._fail(traceback.format_exc(limit=3))
            return wall, False
        return wall, True

    def _fail(self, err: str) -> None:
        self.failed += 1
        self.errors.append(err)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
