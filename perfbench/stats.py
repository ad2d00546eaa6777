"""Arithmetic of the benchmark: percentiles, interval unions, span self
times, event-to-serve latency and queue backlog. Pure functions over
plain lists, so perfbench/test_stats.py can check them on hand-built
inputs.
"""
import math


class TooFewSamples(ValueError):
    pass


def percentile(values, q, min_beyond=10):
    """The q-quantile (0 < q < 1) of `values` by linear interpolation
    between closest ranks, with its sample count.

    A percentile is only reported when at least `min_beyond` samples lie
    beyond it, i.e. n * (1 - q) >= min_beyond; otherwise TooFewSamples.
    """
    n = len(values)
    if n == 0 or n * (1.0 - q) < min_beyond - 1e-9:
        raise TooFewSamples(f"p{q * 100:g} needs {math.ceil(min_beyond / (1 - q))} "
                            f"samples, have {n}")
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def loose_percentile(values, q):
    """Percentile without the samples-beyond rule (0 when empty); used for
    per-layer figures whose sample count goes to the trace artifact."""
    if not values:
        return 0.0
    return percentile(values, q, min_beyond=0)[0]


def geomean(values, floor=1e-3):
    if not values:
        raise TooFewSamples("geomean of no samples")
    return math.exp(sum(math.log(max(v, floor)) for v in values) / len(values))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], optionally
    clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
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


def driver_gap(start, end, jobs):
    """Wall time of [start, end] not covered by the union of job
    intervals."""
    return (end - start) - union_length(jobs, start, end)


def self_time(span, children):
    """A span's duration minus the part its children cover (children
    clipped to the span, overlaps counted once)."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def serve_latencies(serve_rows, commits, after_batch):
    """Event-to-serve latency of each served row: the commit time of the
    serve batch that wrote it minus the row's last_event_timestamp.

    serve_rows: [(serve_batch, last_event_timestamp_ms)]
    commits:    {serve_batch: commit_time_ms}
    Rows of batches <= after_batch (the warm-up) are excluded, as are
    rows whose batch has no recorded commit.
    """
    out = []
    for batch, last_ts in serve_rows:
        if batch > after_batch and batch in commits:
            out.append(commits[batch] - last_ts)
    return out


def backlog_max(arrivals, departures):
    """Largest queue length seen at any event time, where `arrivals` and
    `departures` are [(time, count)] of items entering and leaving."""
    events = [(t, n) for t, n in arrivals] + [(t, -n) for t, n in departures]
    # at equal times departures apply first, so a same-instant hand-off
    # does not read as backlog
    events.sort(key=lambda x: (x[0], x[1]))
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best
