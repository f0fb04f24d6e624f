"""The benchmark's arithmetic, kept apart from the runner so it can be tested.

- `tail`: the highest percentile with at least ten samples beyond it.
- `self_times`: a span's duration minus what its child spans cover.
- `lags`: per live block, receipt at the sink minus the time it was due.
- `lateness`: how late the open-loop generator made each block available.
"""

import math

# Percentiles a tail is chosen from, lowest first.
TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(values, min_beyond=MIN_BEYOND, ladder=TAIL_LADDER):
    """(percentile, value, samples beyond it) for the highest ladder
    percentile that leaves at least `min_beyond` samples strictly above its
    value. With too few samples for any of them, the maximum is reported as
    percentile 100 with 0 beyond, so the caller can see it is not a tail."""
    best = None
    for p in ladder:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= min_beyond:
            best = (p, v, beyond)
    if best is None:
        return (100.0, max(values), 0)
    return best


def self_times(spans):
    """Total self time per span name. A span's self time is its duration
    minus the union of the intervals its direct children cover (clipped to
    the span, so overlapping children are not subtracted twice)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(lo, c["start_s"]), min(hi, c["end_s"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
    return out


def lags(due, received):
    """Per block: time from when it was due at the node to its receipt at
    the sink. Open loop: a stalled generator delays `received` but not
    `due`, so the stall counts against the system."""
    if len(due) != len(received):
        raise ValueError("due and received differ in length")
    return [r - d for d, r in zip(due, received)]


def lateness(due, available):
    """Per block: how long after its due time the generator made it
    available (never negative)."""
    return [max(0.0, a - d) for d, a in zip(due, available)]

