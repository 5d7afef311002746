"""Summary statistics used for the benchmark's reported metrics."""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(samples):
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    (n - TAIL_BEYOND)-th smallest has TAIL_BEYOND samples beyond it, so it
    sits at percentile 100 * (n - TAIL_BEYOND) / n. With too few samples
    for any such percentile the median is returned, at percentile 50.
    """
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return median(s), 50.0, n
    k = n - TAIL_BEYOND
    return s[k - 1], 100.0 * k / n, n

