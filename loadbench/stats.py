"""Statistics for the benchmark's run records: percentiles, tails with
their sample counts, failure accounting and span self time."""

import math

# A tail needs at least this many samples beyond its percentile.
MIN_BEYOND = 10


def percentile(xs, p):
    """Nearest-rank percentile of xs (p in 0..100)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n)) if n else 0


def tail(xs, p, min_beyond=MIN_BEYOND):
    """The p-th percentile as {"pct", "value", "n", "beyond"}, or None
    when fewer than `min_beyond` samples lie beyond it: a run that falls
    short fails; it never reports its median as the tail."""
    n = len(xs)
    if beyond(n, p) < min_beyond:
        return None
    return {"pct": p, "value": percentile(xs, p), "n": n, "beyond": beyond(n, p)}


def failures(ops):
    """(attempted, failed): every op counts; a non-2xx status or an op the
    client marked bad is a failure."""
    attempted = len(ops)
    failed = sum(1 for o in ops
                 if not o.get("ok", False) or not 200 <= o.get("status", 0) < 300)
    return attempted, failed


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children
    cover. Direct children (measured in a separate call) have no place in
    the interval and do not reduce self time."""
    inner = [(c["t0"], c["t1"]) for c in children if not c.get("direct")]
    return (span["t1"] - span["t0"]) - union_length(inner, span["t0"], span["t1"])


def coverage(span, children):
    """Share of a span's wall time accounted for by its children: the
    union of in-interval children plus the durations of direct ones,
    capped at 1."""
    dur = span["t1"] - span["t0"]
    if dur <= 0:
        return 1.0
    inner = [(c["t0"], c["t1"]) for c in children if not c.get("direct")]
    covered = union_length(inner, span["t0"], span["t1"])
    covered += sum(c["t1"] - c["t0"] for c in children if c.get("direct"))
    return min(1.0, covered / dur)


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids
