"""Order statistics and span arithmetic used by the lake benchmark."""
import math
import statistics

# Candidate percentiles for a tail latency, highest first.
TAIL_LADDER = (99, 95, 90, 80, 75, 67, 50)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        return float("nan")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100.0 * len(ordered)) - 1)]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n)) if n else 0


def tail_percentile(n, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` of n samples
    beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def median(values):
    return statistics.median(values) if values else float("nan")


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, reach = 0.0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` are dicts with id, parent, start_ms
    and end_ms; the result maps span id to milliseconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        inner = [(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                 for c in children.get(s["id"], []) if c["end_ms"] > lo and c["start_ms"] < hi]
        out[s["id"]] = (hi - lo) - covered(inner)
    return out
