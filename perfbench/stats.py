"""Statistics helpers for the benchmark: percentiles, quartiles, spreads and
operation tallies. Pure functions over lists of numbers; tested in
`test_stats.py`."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def tail_percentile(n, target=90, beyond=10):
    """The percentile to report as a tail latency for `n` samples: the
    highest whole percentile, at most `target`, with at least `beyond`
    samples above it (nearest-rank). None when `n` <= `beyond`, where no
    percentile leaves that many samples above it."""
    if n <= beyond:
        return None
    for p in range(target, 0, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def quartiles(xs):
    """First quartile, median, third quartile, as
    `statistics.quantiles(xs, n=4)` gives them."""
    return statistics.quantiles(xs, n=4)


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


class Tally:
    """Operations attempted and failed. An operation fails if it raised or
    if a check on its output failed."""

    def __init__(self, attempted=0, failed=0):
        self.attempted = attempted
        self.failed = failed

    @property
    def fail_ratio(self):
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def ok_ratio(self):
        return 1.0 - self.fail_ratio
