"""Latency summaries with an explicit tail rule."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    With ``n`` samples sorted ascending, the order statistic at 0-based
    rank ``n - beyond - 1`` has exactly ``beyond`` samples after it, and
    no higher rank has that many. Returns ``(value, percentile)`` where
    ``percentile = 100 * (n - beyond) / n``. Raises ``ValueError`` when
    there are not more than ``beyond`` samples, because then no sample
    has that many beyond it.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    return sorted(samples)[n - beyond - 1], 100.0 * (n - beyond) / n
