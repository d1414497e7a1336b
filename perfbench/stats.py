"""Sample statistics and span arithmetic for the benchmark report."""

import math
import statistics


def median(values):
    return statistics.median(values)


def _beta_cdf(xs, a, b, grid=4001):
    """Regularized incomplete beta I_x(a, b) at each x in xs, for a, b >= 1
    (trapezoid rule over a fixed grid, normalized to 1 at x = 1)."""
    ts = [i / (grid - 1) for i in range(grid)]
    dens = [t ** (a - 1) * (1 - t) ** (b - 1) for t in ts]
    cum = [0.0]
    for i in range(1, grid):
        cum.append(cum[-1] + (dens[i] + dens[i - 1]) / 2)
    out = []
    for x in xs:
        pos = x * (grid - 1)
        i = min(int(pos), grid - 2)
        out.append((cum[i] + (cum[i + 1] - cum[i]) * (pos - i)) / cum[-1])
    return out


def hd_quantile(values, p=0.5):
    """Harrell-Davis estimate of the p-quantile: a weighted mean of every
    order statistic, the weights a beta(p(n+1), (1-p)(n+1)) distribution's
    mass over each rank's share of [0, 1]. At a few dozen samples it moves
    far less from run to run than the middle sample does, most of all when
    the samples fall into groups (first attempts and retries, probes before
    and after compaction)."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("quantile of no samples")
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = _beta_cdf([i / n for i in range(n + 1)], a, b)
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_reportable(n, candidates=(50, 75, 90, 95, 99), need=10):
    """The highest candidate percentile with at least `need` samples
    beyond it, or None when not even the median has."""
    ok = [p for p in candidates if beyond(n, p) >= need]
    return max(ok) if ok else None


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0
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


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    by_id = {s["id"]: s for s in spans if s["end_ns"] >= s["start_ns"]}
    children = {}
    for s in by_id.values():
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for sid, s in by_id.items():
        clipped = []
        for c in children.get(sid, []):
            cs, ce = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if ce > cs:
                clipped.append((cs, ce))
        out[sid] = (s["end_ns"] - s["start_ns"]) - union_length(clipped)
    return out


def uncovered_share(spans, parent_name, child_names):
    """Share of the `parent_name` spans' total wall that their
    `child_names` children leave uncovered."""
    kids = {}
    for s in spans:
        if s["name"] in child_names:
            kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    total = covered = 0
    for s in spans:
        if s["name"] != parent_name:
            continue
        total += s["end_ns"] - s["start_ns"]
        clipped = [(max(a, s["start_ns"]), min(b, s["end_ns"]))
                   for a, b in kids.get(s["id"], [])]
        covered += union_length([(a, b) for a, b in clipped if b > a])
    return (total - covered) / total if total else 0.0
