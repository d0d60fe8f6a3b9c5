"""Metric math shared by the workloads: percentiles, interval unions,
op summaries.  Pure functions over plain lists, so the self-tests can
pin them on fixed inputs."""

from __future__ import annotations

import math
import statistics


def tail_rule(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Latency at the highest percentile that still has at least
    ``beyond`` samples above it.  Returns ``(value, percentile, n)``.

    With ``n`` sorted samples the candidate is the sample at index
    ``n - beyond - 1``: exactly ``beyond`` samples sit beyond it.  Its
    percentile is reported as the share of samples at or below it.
    When ``n <= beyond`` no percentile qualifies; the maximum is
    returned with percentile 100 so the caller can label it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, n
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def interval_union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping or touching ``(start, end)`` intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e < s:
            s, e = e, s
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total = 0.0
    for s, e in interval_union(intervals):
        total += max(0.0, min(e, hi) - max(s, lo))
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def summarize_ops(ops: list[dict]) -> dict:
    """End-to-end summary of timed ops.  Each op is a dict with
    ``type``, ``kind`` (``read`` / ``write`` / ``maint``), ``ms`` and
    ``ok``.  Only ops that completed count toward latency; with none
    completed, no latency is reported."""
    done = [o for o in ops if o["ok"]]
    if not done:
        return {"type_p50_ms": {}, "type_samples": {}}
    lat = [o["ms"] for o in done]
    by_type: dict[str, list[float]] = {}
    for o in done:
        by_type.setdefault(o["type"], []).append(o["ms"])
    type_p50 = {t: median(v) for t, v in sorted(by_type.items())}
    tail, pct, n = tail_rule(lat)
    reads = [o["ms"] for o in done if o["kind"] == "read"]
    writes = [o["ms"] for o in done if o["kind"] == "write"]
    out = {
        "op_p50_ms": median(lat),
        "op_tail_ms": tail,
        "op_tail_pct": pct,
        "op_samples": n,
        "type_geomean_ms": geomean(list(type_p50.values())),
        "type_p50_ms": type_p50,
        "type_samples": {t: len(v) for t, v in sorted(by_type.items())},
    }
    if reads:
        out["read_p50_ms"] = median(reads)
    if writes:
        out["write_p50_ms"] = median(writes)
    return out
