"""Summaries and the result line's grammar."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")
# with fewer samples than this the tail rule lands below the median
TAIL_MIN_SAMPLES = 20


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile with at least ten
    samples beyond it. Below :data:`TAIL_MIN_SAMPLES` samples that
    percentile would sit under the median, so the maximum is reported and
    labelled p100."""
    xs = sorted(samples)
    n = len(xs)
    if n < TAIL_MIN_SAMPLES:
        return xs[-1], 100.0, n
    rank = n - 11  # ten samples lie above xs[rank]
    return xs[rank], 100.0 * (rank + 1) / n, n


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> dict:
    """The benchmark's last stdout line, after checking every name and unit."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not valid_name(name) or not valid_unit(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        out[name] = {"value": value, "unit": unit}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}
