"""Raw measurements of one workload run and the statistics over them."""

from __future__ import annotations

import resource
import statistics


class Outcome:
    """A workload's raw measurements; ``report`` turns them into metrics."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.setup_s = 0.0
        self.pass_s: list = []
        self.detail: dict = {}  # name -> (value, unit)
        self.layers: dict = {}  # per-layer metric -> value
        self.overhead_pct = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:400])


def tail(values: list):
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; ``None`` below 20 samples."""
    n = len(values)
    if n < 20:
        return None
    for pct in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - pct) / 100 >= 10:
            s = sorted(values)
            return pct, s[min(n - 1, int(round(pct / 100 * n)) - 1)]
    return None


def median(values: list) -> float:
    """Median, or 0.0 when every operation failed and left no sample."""
    return statistics.median(values) if values else 0.0


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def overhead_pct(before: list, traced: list, after: list) -> float:
    """Tracing overhead of a traced measurement bracketed by two untraced
    ones, in percent of their mean median (the bracket cancels steady
    warm-up drift across the three)."""
    base = (median(before) + median(after)) / 2
    return 100 * (median(traced) / base - 1) if base and traced else 0.0
