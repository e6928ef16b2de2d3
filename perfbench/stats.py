"""Summary statistics of one benchmark run."""
import math

MIN_ABOVE = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, q):
    """Nearest-rank q-quantile of `xs`, with the sample count n and the
    number of samples above it. `rule_met` says whether at least
    MIN_ABOVE samples lie above it, the least a tail figure needs to mean
    anything; a caller reports it next to the value."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q * n))
    value = s[rank - 1]
    above = sum(1 for x in s if x > value)
    return {"value": value, "n": n, "above": above,
            "rule_met": above >= MIN_ABOVE}


def self_times(spans):
    """Self time per span kind, in seconds: each span's duration minus the
    part of it its children cover. A span's parent is its `parent` id; a
    Spark job nested in a streaming trigger of the same benchmark job is
    re-parented to that trigger."""
    by_id = {s["id"]: s for s in spans}
    triggers = {}
    for s in spans:
        if s["kind"] == "trigger":
            triggers.setdefault(s["parent"], []).append(s)
    children = {}
    for s in spans:
        parent = s["parent"]
        if s["kind"] == "spark_job":
            for t in triggers.get(parent, []):
                if t["start"] <= s["start"] and s["end"] <= t["end"]:
                    parent = t["id"]
                    break
        if parent in by_id:
            children.setdefault(parent, []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        busy = covered([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                       lo, hi)
        out[s["kind"]] = out.get(s["kind"], 0.0) + (hi - lo - busy) / 1e6
    return out


def covered(intervals, lo, hi):
    """Length of [lo, hi] that the union of `intervals` covers."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
