"""The benchmark's metric math, kept free of Spark so it can be self-tested.

- ``median`` / ``tail``: a tail percentile is reported only where at least
  ``MIN_BEYOND`` samples lie beyond it; ``tail`` picks the highest such
  percentile from ``TAIL_PERCENTILES`` and says which one and how many.
- ``Tally``: counts ops attempted and failed. An op that raised or returned
  a wrong result is a failure; nothing is dropped.
- ``ops_per_s``: completed ops ÷ the time those ops took, so a run that ends
  in the middle of an op is not rounded down to a whole number of ops.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs):
    """The highest percentile in ``TAIL_PERCENTILES`` with at least
    ``MIN_BEYOND`` samples strictly beyond its nearest rank.

    Returns ``(percentile, value_at_it, n_beyond)`` or ``None`` when even the
    lowest candidate has fewer than ``MIN_BEYOND`` samples beyond it."""
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * len(s)))
        beyond = len(s) - rank
        if beyond >= MIN_BEYOND:
            return p, s[rank - 1], beyond
    return None


def ops_per_s(op_seconds) -> float:
    """Completed ops divided by the seconds those same ops took."""
    busy = sum(op_seconds)
    if busy <= 0:
        raise ValueError("no completed op time")
    return len(op_seconds) / busy


class Tally:
    """Ops attempted and failed. ``record`` is called once per op, after it
    ends, with whether it raised and whether its result was right."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(reason)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
