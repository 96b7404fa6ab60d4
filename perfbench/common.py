"""What every workload returns, and the summary statistics over it."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


@dataclass
class RunResult:
    setup_s: float = 0.0
    latencies: list[float] = field(default_factory=list)  # timed requests only
    loop_s: float = 0.0  # wall time of the timed loop
    attempted: int = 0  # checked operations
    failed: int = 0  # raised, or returned a wrong answer
    failures: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(why)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below eleven samples no percentile qualifies, and
    the maximum is reported with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
