"""Reductions used by the benchmark: medians, the tail-percentile rule,
span self time and attribution of scheduler events to spans."""
import bisect
import math

LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def median(values):
    v = sorted(values)
    if not v:
        return None
    m = len(v) // 2
    return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2.0


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    v = sorted(values)
    if not v:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(v)))
    return v[rank - 1]


def tail_percentile(values, min_beyond=10, ladder=LADDER):
    """The highest percentile on `ladder` that has at least `min_beyond`
    samples ranked beyond it, as (p, value, n); (None, None, n) when
    there are too few samples for any."""
    n = len(values)
    for p in ladder:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, percentile(values, p), n
    return None, None, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with id,
    parent, startMs and endMs."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["startMs"], s["endMs"]))
    return {s["id"]: (s["endMs"] - s["startMs"]) -
            covered(children.get(s["id"], []), s["startMs"], s["endMs"])
            for s in spans}


class Attributor:
    """Maps a timestamp to the disjoint window (e.g. the op or job span)
    that contains it."""

    def __init__(self, windows):
        self.windows = sorted(windows, key=lambda w: w[0])
        self.starts = [w[0] for w in self.windows]

    def find(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.windows[i][1]:
            return self.windows[i][2]
        return None
