"""Pure arithmetic over samples and spans, kept apart so the tests can
check it on synthetic input."""

from __future__ import annotations

import statistics
from dataclasses import dataclass


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles ``statistics.quantiles(n=4)``
    gives (the 'exclusive' method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def bracketed_ratio(cycles: list[tuple[bool, float]]) -> float:
    """Median, over the traced cycles that sit between two plain ones, of
    the traced cycle's time ÷ the mean of its two neighbours'. A drift that
    is linear in the cycle number (state that grows by one batch a cycle)
    cancels out."""
    ratios = [
        t / ((cycles[i - 1][1] + cycles[i + 1][1]) / 2)
        for i, (traced, t) in enumerate(cycles[1:-1], 1)
        if traced and not cycles[i - 1][0] and not cycles[i + 1][0]
    ]
    return median(ratios)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in the same list

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children cover.
    Children of one parent run one after another (one client thread), so
    their durations add up without overlap."""
    out = [s.duration for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    totals: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        totals[s.name] = totals.get(s.name, 0.0) + t
    return totals


def inclusive_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total duration per span name, counting a recursive call once: a span
    nested inside another of the same name adds nothing."""
    totals: dict[str, float] = {}
    for s in spans:
        p, nested = s.parent, False
        while p is not None:
            if spans[p].name == s.name:
                nested = True
                break
            p = spans[p].parent
        if not nested:
            totals[s.name] = totals.get(s.name, 0.0) + s.duration
    return totals
