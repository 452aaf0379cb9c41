"""Statistics over the raw records the benchmark JVM writes.

Everything here is pure Python over plain dicts, so the self-tests in
perfbench/tests exercise it without Spark.
"""
import math
import statistics

# A percentile is reported only where at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10


def _rank(n, q):
    # rounding first keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(q * n / 100.0, 6)))


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = _rank(len(s), q)
    return s[rank - 1]


def samples_beyond(n, q):
    """How many of n samples lie strictly above the nearest-rank q-th
    percentile."""
    return n - _rank(n, q)


def highest_percentile(n, candidates=(99.9, 99.0, 90.0, 50.0)):
    """The highest candidate percentile with at least TAIL_SAMPLES of n
    samples beyond it, or None when even the median has fewer."""
    for q in candidates:
        if samples_beyond(n, q) >= TAIL_SAMPLES:
            return q
    return None


def quartile_spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles
    gives the quartiles."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse_by(first, second, better):
    """How much worse ``second`` is than ``first``, as a share of
    ``first``; negative when it is better."""
    change = (second - first) / first
    return change if better == "lower" else -change


def op_medians(ops):
    """Each distinct op's median latency, in ms, across the timed
    passes: one typical figure per op, robust to a stall in one pass."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    return [statistics.median(v) for v in by_name.values()]


def pass_wall_s(ops):
    """Wall time of one pass, in seconds: the sum of the op medians."""
    return sum(op_medians(ops)) / 1e3


def op_p50_ms(ops):
    """Median op latency of one pass: the median of the op medians."""
    return statistics.median(op_medians(ops))


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval its direct children cover. Returns {span id: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_ms(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def failed_frac(attempted, failed):
    """Failed or wrong ops over ops attempted."""
    if attempted < 1:
        raise ValueError("no op attempted")
    return failed / attempted


def account(ops, check):
    """(attempted, failed, warm-up failed) over op records: warm-up ops
    (ids starting with "w") are not attempted ops, but their failures
    still make the run incorrect. An op fails when it threw or its
    output is wrong, both judged by ``check``."""
    timed = [o for o in ops if not o["id"].startswith("w")]
    warm = [o for o in ops if o["id"].startswith("w")]
    return (len(timed), sum(1 for o in timed if not check(o)),
            sum(1 for o in warm if not check(o)))
