"""Spark-free arithmetic of the benchmark: medians, the tail percentile,
failure counting and the result line. Kept apart from the Spark driver
so that its tests run in milliseconds.
"""

from __future__ import annotations

import json
import math
import re
import statistics
from dataclasses import dataclass

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# A tail percentile needs this many samples strictly above it.
TAIL_MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    """Letters, digits, `_`, `.` and `-`; starts with a letter or digit; <= 64."""
    return bool(_NAME.match(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT.match(unit))


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def nearest_rank(sorted_values: list[float], pct: int) -> tuple[float, int]:
    """The `pct`-th percentile by nearest rank, and how many samples lie
    beyond its rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct * n / 100))
    return sorted_values[rank - 1], n - rank


@dataclass(frozen=True)
class Tail:
    pct: int        # the percentile reported, e.g. 66 for p66
    value: float
    samples: int    # all samples the percentile was taken over
    beyond: int     # samples ranked above it


def tail_percentile(values: list[float]) -> Tail:
    """The highest whole percentile with at least TAIL_MIN_BEYOND samples
    beyond it. Needs more than TAIL_MIN_BEYOND samples."""
    if len(values) <= TAIL_MIN_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_MIN_BEYOND} samples, "
                         f"got {len(values)}")
    ordered = sorted(values)
    for pct in range(99, 0, -1):
        value, beyond = nearest_rank(ordered, pct)
        if beyond >= TAIL_MIN_BEYOND:
            return Tail(pct, value, len(ordered), beyond)
    raise AssertionError("unreachable: p1 always has enough samples beyond")


class Tally:
    """Attempted and failed operations, with the first few failure reasons."""

    def __init__(self, keep: int = 20):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self._keep = keep

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.reasons) < self._keep:
            self.reasons.append(reason)


def result_line(tally: Tally, metrics: dict[str, tuple[float, str]]) -> str:
    """The final stdout line: `correct`, `attempted`, `failed`, `metrics`."""
    if tally.attempted < 1:
        raise ValueError("nothing was attempted")
    out = {}
    for name, (value, unit) in metrics.items():
        if not valid_metric_name(name) or not valid_unit(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": tally.failed == 0,
                       "attempted": tally.attempted,
                       "failed": tally.failed,
                       "metrics": out})
