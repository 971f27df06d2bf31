"""Pure helpers of the benchmark: percentile reporting, span self time,
metric-name rules.  No Spark, no I/O — unit-tested in tests/test_stats.py."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# percentiles the reporter may choose from, highest first
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def reportable_percentile(n: int) -> float | None:
    """Highest percentile with at least ten samples beyond it among ``n``
    samples (the median needs 20); None when even the median has fewer
    than ten samples on each side — then only the median is reported,
    labelled with its sample count."""
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100]) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile the sample count supports."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = reportable_percentile(len(values))
    if p is not None and p > 50.0:
        out["p"] = p
        out["value"] = percentile(values, p)
    return out


def describe(name: str, values: list[float], unit: str) -> str:
    """One human-readable line: median, sample count, and the highest
    percentile with ten samples beyond it (or why there is none)."""
    s = summarize(values)
    line = f"{name}: p50 {s['p50']:.4f} {unit} over {s['n']} samples"
    if "p" in s:
        return line + f"; p{s['p']:g} {s['value']:.4f} {unit}"
    return line + "; too few samples for a higher percentile"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.  Children
    may overlap (run_round commits through thread pools), so the covered
    part is the union of their intervals clipped to the span, never their
    sum."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def check_names(emitted: set[str], declared: set[str]) -> list[str]:
    """Problems with emitted metric names: undeclared or malformed."""
    problems = [f"undeclared metric {n}" for n in sorted(emitted - declared)]
    problems += [f"bad metric name {n}" for n in sorted(emitted)
                 if not NAME_RE.match(n)]
    return problems
