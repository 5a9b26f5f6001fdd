"""Summary statistics and operation accounting shared by run.py and its
self-tests."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


class Ops:
    """Counts operations: the harness's timed calls (counted in the JVM,
    where a call that throws records no timing) and the output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok):
        self.attempted += 1
        if not ok:
            self.failed += 1
        return ok

    def add(self, attempted, failed):
        self.attempted += attempted
        self.failed += failed

    @property
    def fail_ratio(self):
        return self.failed / self.attempted if self.attempted else 1.0
