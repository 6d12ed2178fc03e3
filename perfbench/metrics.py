"""Small statistics shared by the runner and the tests."""

from __future__ import annotations

import math

# candidate tail percentiles, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank ceil(p/100 * n); rounded first so 99.9% of
    10000 is 9990, not 9991."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def nearest_rank(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the ceil(p/100 * n)-th smallest value."""
    if not values:
        raise ValueError("percentile of an empty sample")
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples rank above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ten samples beyond it,
    or None when the sample is too small for any (n < 20)."""
    ok = [p for p in TAIL_LADDER if beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else None


def job_tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it). A sample too small for a
    ladder percentile falls back to the median, and the beyond count then
    reads below ten."""
    p = tail_percentile(len(values))
    if p is None:
        p = 50.0
    return nearest_rank(values, p), p, beyond(len(values), p)


def failed_job_ratio(results) -> float:
    """Jobs that raised or gave a wrong output, over jobs attempted."""
    return sum(1 for r in results if not r.ok) / len(results)
