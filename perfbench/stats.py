"""The benchmark's statistics, as pure functions of the JVM's raw samples.

Times are epoch milliseconds. A span is a dict with `id`, `parent`,
`op`, `name`, `start` and `end`; a job has `id`, `span`, `start` and
`end`.
"""
import statistics


def tail_quantile(n, target=0.9, beyond=10):
    """The highest quantile <= `target` with at least `beyond` of `n`
    samples above it, never below the median."""
    if n <= 0:
        return 0.5
    return max(0.5, min(target, 1.0 - beyond / n))


def quantile(values, q):
    """Nearest-rank quantile: the smallest value with at least a share
    `q` of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return 0.0
    rank = max(1, -(-q * len(xs) // 1))  # ceil without float drift at q*n
    return xs[min(len(xs), int(rank)) - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            [(max(c["start"], s["start"]), min(c["end"], s["end"]))
             for c in children.get(s["id"], [])])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _union_length(intervals):
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def jobs_in(spans, jobs, names):
    """Jobs whose span, the innermost one open on the submitting thread
    when the job started (-1: none), is named in `names`."""
    named = {s["id"] for s in spans if s["name"] in names}
    return sum(1 for j in jobs if j["span"] in named)


def uncovered(lo, hi, intervals):
    """Length of [lo, hi] that none of `intervals` covers."""
    return (hi - lo) - _union_length(
        [(max(a, lo), min(b, hi)) for a, b in intervals])


def count_failures(ops, wrong):
    """(attempted, failed): an op fails when it threw or its result is
    in `wrong`, the set of op indices whose output check failed."""
    failed = sum(1 for o in ops if not o["ok"] or o["i"] in wrong)
    return len(ops), failed
