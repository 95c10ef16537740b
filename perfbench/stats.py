"""The benchmark's arithmetic: quartiles, tail percentiles, interval
unions, self time, busy share and driver gap. Pure functions, tested by
`perfbench/test_stats.py`."""
import statistics


def quartiles(values):
    """(p25, median, p75) as `statistics.quantiles(values, n=4)` gives
    them (the 'exclusive' method); a single value is its own quartiles."""
    vs = sorted(values)
    if not vs:
        raise ValueError("no values")
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def summary(values):
    """Median, p25, p75 and sample count of `values`."""
    p25, p50, p75 = quartiles(values)
    return {"median": p50, "p25": p25, "p75": p75, "n": len(values)}


def percentile(values, q):
    """The q-quantile (0 <= q <= 1) by linear interpolation between
    closest ranks, as `numpy.percentile` does by default."""
    vs = sorted(values)
    if not vs:
        raise ValueError("no values")
    pos = q * (len(vs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (pos - lo)


def tail_count(values, q):
    """Number of samples strictly above the q-quantile."""
    p = percentile(values, q)
    return sum(v > p for v in values)


def tail_ok(values, q, min_tail=10):
    """A tail percentile is reported as a measurement only when at least
    `min_tail` samples lie above it; fewer and it is the largest few
    samples, not a percentile."""
    return len(values) > 0 and tail_count(values, q) >= min_tail


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, each clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part covered by its children (child
    intervals may overlap each other and stick out of the parent)."""
    return (end - start) - union_length(children, start, end)


def driver_gap(start, end, jobs):
    """Wall of an operation not covered by any running Spark job: plan
    construction, driver-side work and scheduling gaps."""
    return self_time(start, end, jobs)


def busy_share(task_run_s, wall_s, cores):
    """Task run time divided by the wall-clock capacity of the cores."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return task_run_s / (wall_s * cores)
