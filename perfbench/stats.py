"""Sample statistics and failure accounting for the benchmark's reports."""
import math
import statistics


def summarize(values):
    """Median plus the tail: the highest whole percentile with at least ten
    samples beyond it (nearest-rank), and the sample count.

    With fewer than eleven samples no percentile has ten beyond it, so the
    tail is None.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"n": 0, "median": None, "tail": None}
    tail = None
    if n >= 11:
        p = math.floor(100 * (n - 10) / n)
        rank = max(1, math.ceil(p * n / 100))
        tail = {"p": p, "value": xs[rank - 1], "beyond": n - rank}
    return {"n": n, "median": statistics.median(xs), "tail": tail}


def tail_value(values):
    t = summarize(values)["tail"]
    return t["value"] if t else None


class Failures:
    """Counts every attempted operation and every one that failed (an
    exception aborts an operation); `error_rate` is failed / attempted."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = []

    def add(self, attempted, failed, reasons=()):
        if attempted < 0 or failed < 0 or failed > attempted:
            raise ValueError(f"bad counts: {failed} failed of {attempted}")
        self.attempted += attempted
        self.failed += failed
        self.reasons.extend(reasons)

    @property
    def error_rate(self):
        return self.failed / self.attempted if self.attempted else 1.0


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
