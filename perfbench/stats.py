"""Latency summaries: the median and the highest tail percentile that a
sample supports (at least ``MIN_BEYOND`` samples beyond it)."""

from __future__ import annotations

import math

MIN_BEYOND = 10
TAILS = (99.0, 95.0, 90.0)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int) -> float | None:
    """Highest percentile in ``TAILS`` with at least MIN_BEYOND of ``n``
    samples beyond it, or None when the sample is too small."""
    for q in TAILS:
        if n * (100.0 - q) / 100.0 >= MIN_BEYOND:
            return q
    return None


def summarize(values) -> dict:
    out = {"n": len(values), "p50": percentile(values, 50)}
    q = supported_tail(len(values))
    if q is not None:
        out["tail_q"] = q
        out["tail"] = percentile(values, q)
    return out


def latency_figures(name: str, ms: list[float]) -> list[tuple]:
    """(name_p50_ms, ...) and the tail percentile the sample supports,
    each as (metric, value, unit, samples)."""
    if not ms:
        return []
    s = summarize(ms)
    out = [(f"{name}_p50_ms", s["p50"], "ms", s["n"])]
    if "tail" in s:
        out.append((f"{name}_p{int(s['tail_q'])}_ms", s["tail"], "ms",
                    s["n"]))
    return out
