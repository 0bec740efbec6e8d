"""Reporting rules shared by every workload: percentiles with enough
samples behind them, metric names, and the result line."""

from __future__ import annotations

import json
import math
import re
import statistics
from dataclasses import dataclass

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_SAMPLES = 10  # samples that must lie beyond a reported percentile


def min_samples(q: float) -> int:
    """Fewest samples for which percentile ``q`` (0 < q < 100) has at
    least ``TAIL_SAMPLES`` samples beyond it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    return math.ceil(TAIL_SAMPLES * 100 / (100 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float | None:
    """Percentile ``q`` by linear interpolation, or None when fewer
    than ``TAIL_SAMPLES`` samples would lie beyond it."""
    if len(values) < min_samples(q):
        return None
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_percentile(values: list[float]) -> tuple[int, float] | None:
    """(q, value) for the highest whole percentile the sample count
    supports, or None below 20 samples."""
    for q in (99, 95, 90, 75, 50):
        v = percentile(values, q)
        if v is not None:
            return q, v
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


class Report:
    """Named metrics with unit and sample count, printed one per line
    and then as the single JSON result line."""

    def __init__(self) -> None:
        self.rows: dict[str, tuple[float | None, str, int | None, str]] = {}

    def add(self, name: str, value: float | None, unit: str,
            n: int | None = None, note: str = "") -> None:
        self.rows[check_name(name)] = (value, unit, n, note)

    def lines(self) -> list[str]:
        out = []
        for name, (v, unit, n, note) in self.rows.items():
            shown = "n/a" if v is None else f"{v:.6g}"
            count = "" if n is None else f" n={n}"
            tail = f"  # {note}" if note else ""
            out.append(f"{name} = {shown} {unit}{count}{tail}")
        return out

    def result(self, names: list[str], correct: bool, attempted: int,
               failed: int) -> str:
        metrics = {}
        for name in names:
            v, unit, _, _ = self.rows[name]
            metrics[name] = {"value": 0.0 if v is None else v, "unit": unit}
        return json.dumps({"correct": correct, "attempted": attempted,
                           "failed": failed, "metrics": metrics})


@dataclass
class Phase:
    """One measured phase: how many ops completed, over what wall time,
    and which op ids (the job-group keys) belong to it."""
    ops: int
    wall_s: float
    op_ids: list[int]
