"""The benchmark's arithmetic: percentiles, interval unions, span self
time and failure fractions. Pure functions over plain numbers, so that
``tests/test_metrics.py`` can pin each rule."""
import math
import statistics


def median(values):
    return statistics.median(values)


def nearest_rank(values, p):
    """The ``p``-th percentile by nearest rank: the smallest value with at
    least ``p`` percent of the samples at or below it."""
    s = sorted(values)
    k = max(0, math.ceil(p / 100.0 * len(s)) - 1)
    return s[k]


def tail_percentile(n):
    """The highest whole percentile, capped at 90, with at least ten of
    ``n`` samples beyond it by nearest rank. Up to 20 samples no such
    percentile lies above the median, so ``None`` is returned and the
    tail is reported as the median."""
    if n <= 20:
        return None
    return min(90, (100 * (n - 10)) // n)


def tail(values):
    """``(percentile, value, note)`` for the tail latency; the note states
    the percentile and the sample count."""
    p = tail_percentile(len(values))
    if p is None:
        return 50, median(values), f"p50 (N={len(values)} <= 20: no percentile above the median has 10 samples beyond it)"
    return p, nearest_rank(values, p), f"p{p} (N={len(values)})"


def union(intervals):
    """Merged ``[t0, t1]`` intervals, sorted."""
    out = []
    for t0, t1 in sorted(i for i in intervals if i[1] > i[0]):
        if out and t0 <= out[-1][1]:
            out[-1][1] = max(out[-1][1], t1)
        else:
            out.append([t0, t1])
    return out


def union_length(intervals):
    return sum(t1 - t0 for t0, t1 in union(intervals))


def covered(t0, t1, intervals):
    """How much of ``[t0, t1]`` the union of ``intervals`` covers."""
    return union_length([(max(t0, a), min(t1, b)) for a, b in intervals])


def self_time(t0, t1, children):
    """A span's duration minus the part of it its children cover;
    overlapping children are counted once."""
    return (t1 - t0) - covered(t0, t1, children)


def driver_gap(t0, t1, jobs):
    """Op wall time during which no Spark job ran."""
    return self_time(t0, t1, jobs)


def op_ok(op):
    """Did one op succeed? ``op`` has ``error`` (an exception, or None),
    ``rejected`` (the chain aborted it), ``expected_rejection`` (its input
    must be refused), ``outputs`` (files it produced) and ``checks_ok``
    (its outputs match the reference). An expected rejection that
    happened, with no output, is a success."""
    if op.get("error"):
        return False
    if op.get("expected_rejection"):
        return bool(op.get("rejected")) and not op.get("outputs")
    return not op.get("rejected") and bool(op.get("checks_ok"))


def failed_frac(ops):
    """Failed ops over attempted ops (see ``op_ok``)."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not op_ok(o)) / len(ops)
