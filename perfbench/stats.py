"""Pure helpers for the benchmark's numbers: medians, the tail percentile
with its sample count, self time of a span, failure accounting and the
run-to-run spread. No Spark here, so the helpers are unit-tested alone."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def p50(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values) -> dict | None:
    """The highest percentile that leaves at least :data:`TAIL_BEYOND`
    samples strictly beyond it, with its value and the sample count.

    With ``n`` sorted samples that is the ``(n - TAIL_BEYOND)``-th one,
    the ``100 * (n - TAIL_BEYOND) / n`` percentile. Fewer than
    ``TAIL_BEYOND + 1`` samples have no such percentile: ``None``."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND  # samples at or below the tail value
    return {"value": ordered[k - 1], "percentile": round(100.0 * k / n, 2), "n": n}


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its children cover. Children
    may overlap one another (the sync fans targets out to threads) and may
    stick out of the span; only the covered part inside the span counts."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def spread(values) -> float:
    """Inter-quartile distance as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


@dataclass
class Ops:
    """Failure accounting: every attempted operation is either passed or
    failed, and a failure keeps its reason. A skipped operation is neither
    attempted nor passed."""

    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)
    skipped: dict = field(default_factory=dict)

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)
        return ok

    def skip(self, name: str, reason: str) -> None:
        self.skipped[name] = reason

    @property
    def failure_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
