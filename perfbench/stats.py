"""Summary statistics the benchmark reports timings with."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as
    `statistics.quantiles(xs, n=4)` gives them."""
    return tuple(statistics.quantiles(xs, n=4))


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, samples beyond it) where `value` is the
    k-th smallest of n samples with k = n - beyond, and percentile = 100 k / n.
    Needs more than `beyond` samples.
    """
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    k = n - beyond
    return 100.0 * k / n, sorted(xs)[k - 1], beyond
