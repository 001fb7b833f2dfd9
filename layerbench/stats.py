"""Order statistics used by the benchmark's summaries."""
import math
import statistics

# candidate tail percentiles, lowest first
TAIL_GRID = (50, 75, 90, 95, 99)
# a tail percentile is reported only with at least this many samples above it
TAIL_MIN_BEYOND = 10


def quartiles(xs):
    """First quartile, median and third quartile, as
    `statistics.quantiles(xs, n=4)` gives them (one sample: that sample)."""
    xs = list(xs)
    if len(xs) == 1:
        return xs * 3
    return statistics.quantiles(xs, n=4)


def spread(xs):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank, and how many samples lie above
    its rank."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1], len(s) - rank


def tail(xs):
    """(percentile, value, samples beyond) for the highest percentile of
    TAIL_GRID with at least TAIL_MIN_BEYOND samples beyond it; with fewer
    than 2 x TAIL_MIN_BEYOND samples no percentile qualifies and the maximum
    is reported as percentile 100."""
    for p in reversed(TAIL_GRID):
        value, beyond = nearest_rank(xs, p)
        if beyond >= TAIL_MIN_BEYOND:
            return p, value, beyond
    return 100, max(xs), 0
