"""Pure arithmetic behind the benchmark's figures (tested in test_bench.py)."""
import math
import statistics

TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, nearest-rank value, n); None below 20 samples."""
    n = len(samples)
    xs = sorted(samples)
    best = None
    for p in TAIL_PERCENTILES:
        if math.floor(n * (1 - p / 100) + 1e-9) >= 10:
            best = (p, xs[max(0, math.ceil(n * p / 100) - 1)], n)
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    child spans cover. Children that run concurrently (threads) count
    once; a child's time outside its parent is clipped."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], []) if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0
