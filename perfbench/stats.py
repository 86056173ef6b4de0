"""Pure helpers that turn raw observations into metrics.

Everything here is deterministic and free of I/O so that it can be unit
tested (see tests/test_stats.py).
"""

import math

# Percentiles the benchmark reports, highest first.
LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, ladder=LADDER, min_beyond=MIN_BEYOND):
    """The highest percentile in `ladder` that has at least `min_beyond`
    samples beyond it among `n`; None when even the lowest has fewer."""
    for p in ladder:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p
    return None


def latency_summary(values):
    """Median and the supported tail percentile of a latency sample."""
    n = len(values)
    tail = tail_percentile(n)
    return {
        "n": n,
        "p50": percentile(values, 50) if n else None,
        "tail_pct": tail,
        "tail": percentile(values, tail) if tail is not None else None,
    }


def batch_windows(progress):
    """(start_offset, end_offset, start_ms, done_ms) of every micro-batch
    that read new source offsets, in batch order. A batch covers the
    offsets in (start_offset, end_offset]."""
    out = []
    for p in sorted(progress, key=lambda p: p["batch_id"]):
        if p["end_offset"] > p["start_offset"]:
            done = p["ts_ms"] + p["duration_ms"].get("triggerExecution", 0)
            out.append((p["start_offset"], p["end_offset"], p["ts_ms"], done))
    return out


def covering_batch(windows, offset):
    """The window of the micro-batch that read source offset `offset`."""
    for w in windows:
        if w[0] < offset <= w[1]:
            return w
    return None


def scheduled_latencies(ticks, windows, weight_key="packets"):
    """Latency of every item sent on the open-loop schedule: from the
    tick's scheduled (due) time to the completion of the micro-batch
    that read the tick's offset. Each tick contributes one sample per
    item (`weight_key`). Items whose batch never completed are returned
    separately as a count."""
    lat, lost = [], 0
    for t in ticks:
        w = covering_batch(windows, t["offset"])
        if w is None:
            lost += t[weight_key]
        else:
            lat.extend([w[3] - t["due_ms"]] * t[weight_key])
    return lat, lost


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to [lo, hi]."""
    iv = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            iv.append((s, e))
    iv.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def gap(start, end, intervals):
    """Wall time of [start, end] not covered by any of `intervals`."""
    return (end - start) - union_length(intervals, start, end)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return gap(span["start_ms"], span["end_ms"],
               [(c["start_ms"], c["end_ms"]) for c in children])


def median(values):
    xs = sorted(values)
    if not xs:
        return None
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0
