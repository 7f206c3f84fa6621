"""Reductions the benchmark reports: medians, the tail rule, the
scheduler/driver gap, and span self time. Pure functions, unit-tested in
tests/test_stats.py."""
import math
import statistics

# percentile levels the tail rule may pick, highest first
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 60.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def percentile(values, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    pos = p / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, level, samples_beyond). With fewer than twenty
    samples no level above the median qualifies and the median is
    returned at level 50."""
    n = len(values)
    for level in TAIL_LEVELS:
        beyond = n * (100.0 - level) / 100.0
        if beyond >= TAIL_MIN_BEYOND or level == 50.0:
            return percentile(values, level), level, int(beyond)
    raise AssertionError("unreachable")


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def sched_gap(window, intervals):
    """Wall of `window` (start, end) not covered by any stage interval:
    the time Spark's scheduler and driver spent with no stage running."""
    w0, w1 = window
    clipped = [(max(s, w0), min(e, w1)) for s, e in intervals if e > w0 and s < w1]
    return (w1 - w0) - union_length(clipped)


def self_times(spans):
    """Self time of each span: its duration minus its direct children's.

    `spans` are (id, parent, name, layer, op, start, end); returns
    {id: self}. A child's time counts against its parent only."""
    child = {}
    for sid, parent, *_rest, start, end in spans:
        child[parent] = child.get(parent, 0.0) + (end - start)
    return {sid: (end - start) - child.get(sid, 0.0)
            for sid, _p, *_rest, start, end in spans}


def self_by_layer(spans):
    """Summed self time per layer."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s[3]] = out.get(s[3], 0.0) + own[s[0]]
    return out
