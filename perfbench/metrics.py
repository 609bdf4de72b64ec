"""Arithmetic of the benchmark's metrics: percentiles, interval unions,
the driver gap and span self time. Pure functions, tested in
test_metrics.py."""
import math

MIN_BEYOND = 10  # samples a reported percentile must have beyond it


def percentile(samples, q):
    """The q-quantile (0 < q < 1) of `samples`, linearly interpolated
    between closest ranks. Refuses when fewer than MIN_BEYOND samples lie
    beyond it, because such a tail figure is mostly noise."""
    xs = sorted(samples)
    n = len(xs)
    if n * (1.0 - q) < MIN_BEYOND - 1e-9:
        raise ValueError(f"p{q * 100:g} of {n} samples has fewer than "
                         f"{MIN_BEYOND} samples beyond it")
    pos = (n - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples):
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def union_length(intervals):
    """Total length covered by (start, end) intervals. Spark runs some
    jobs concurrently (AQE submits stages of independent subtrees at
    once), so job time is the union of job intervals, never their sum."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(wall_ms, job_ms, planning_ms):
    """Op wall time not covered by Spark jobs or Catalyst planning,
    clamped at 0: planning phases of internal frames can overlap job
    intervals (AQE re-plans while a job runs), so the raw difference can
    go negative."""
    return max(0.0, wall_ms - job_ms - planning_ms)


def self_time(span, children):
    """A span's duration minus the part of its interval its children
    cover (children clipped to the span)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)
