"""Pure functions run.py computes metrics with; perfbench/tests covers them."""
import json
import math
import statistics

BEYOND = 10  # samples a reported percentile must leave above it


def rank(n, p):
    """1-based nearest-rank position of the p-th percentile among n samples."""
    return max(1, math.ceil(p / 100.0 * n))


def supports(n, p, beyond=BEYOND):
    """True when the p-th percentile of n samples has `beyond` samples above it."""
    return n > 0 and n - rank(n, p) >= beyond


def highest_supported(n, candidates=(99, 95, 90, 75, 50), beyond=BEYOND):
    """The highest candidate percentile n samples support, or None."""
    return next((p for p in candidates if supports(n, p, beyond)), None)


def percentile(values, p):
    """Nearest-rank percentile: a value that was measured, never interpolated."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[rank(len(xs), p) - 1]


def median(values):
    return statistics.median(values)


def geomean(values):
    """Geometric mean: every value moves it by its ratio, whatever its size."""
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_name_medians(samples):
    """name -> median ms of the samples ({"name", "ms"}) with that name."""
    by = {}
    for s in samples:
        by.setdefault(s["name"], []).append(s["ms"])
    return {k: median(v) for k, v in by.items()}


def open_loop_latencies(due_ms, batch_of, batch_end_ms):
    """Latency of each event from its due time to the end of the batch that
    emitted it. Timing from the due time, not from when the generator wrote
    the event or the source read it, charges a stall's wait to every event
    that fell due during it. Events with no batch are left out."""
    out = []
    for event, due in due_ms.items():
        b = batch_of.get(event)
        if b is not None and b in batch_end_ms:
            out.append(batch_end_ms[b] - due)
    return out


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
    """Span id -> its duration minus the part of it its children cover.
    `spans` are dicts with id, parent, start and end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps a name to a
    (value, unit) pair; values are kept with all their digits."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}})
