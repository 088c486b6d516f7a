"""Order statistics used for every reported timing."""
import statistics

TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(Q1, median, Q3) as `statistics.quantiles(n=4)` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (label, value); with fewer than eleven samples that is none, and the
    maximum is given instead."""
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n - -(-n * p // 100) >= 10:
            return f"p{p}", percentile(xs, p)
    return "max", max(xs)
