"""Statistics and trace arithmetic for the benchmark (pure Python, no deps).

Everything here works on plain lists so it can be unit-tested on its own
(`python3 -m unittest discover -s perfbench/tests`).
"""
import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# Percentiles a tail metric may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def valid_name(name):
    """True iff `name` is a legal metric name: [A-Za-z0-9_.-]+, at most 64
    characters, starting with a letter or digit."""
    return (isinstance(name, str) and 0 < len(name) <= 64
            and NAME_RE.fullmatch(name) is not None and name[0].isalnum())


def median(xs):
    """Conventional median: the mean of the two middle values on even counts."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    if n % 2 == 1:
        return float(s[n // 2])
    return (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    return float(s[_rank(len(s), p) - 1])


def _rank(n, p):
    # 1-based nearest rank; the epsilon keeps 99.9% of 10000 at rank 9990
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def beyond(n, p):
    """Number of samples strictly above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def tail_percentile(n, min_beyond=10, ladder=TAIL_LADDER):
    """The highest ladder percentile with at least `min_beyond` of n samples
    beyond it, or None when even the lowest rung has fewer."""
    best = None
    for p in ladder:
        if beyond(n, p) >= min_beyond:
            best = p
    return best


def tail(xs, min_beyond=10):
    """(percentile, value) of the tail rule; falls back to the median (p50)
    when there are too few samples for any rung."""
    p = tail_percentile(len(xs), min_beyond)
    if p is None:
        return 50.0, median(xs)
    return p, percentile(xs, p)


def slope(ys):
    """Least-squares slope of ys against their index 0..n-1 (units of y per
    step); 0 for fewer than two points."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(ys) / n
    sxx = sum((i - mx) ** 2 for i in range(n))
    sxy = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    return sxy / sxx


def union_ms(intervals, lo, hi):
    """Total length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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

