"""Statistics and guards shared by the benchmark driver and its tests."""
import math
import statistics

# A tail percentile is reported only when at least this many samples
# lie beyond it.
MIN_BEYOND = 10

# Result fields that must agree before two sets of results are compared.
CONDITION_KEYS = ("nproc", "master", "shuffle_partitions", "java", "spark",
                  "xmx_mb", "inputs", "seconds")


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def percentile(values, p):
    """The p-th percentile (nearest rank), or None when fewer than
    MIN_BEYOND samples lie beyond it."""
    n = len(values)
    if n == 0 or n * (100 - p) / 100 < MIN_BEYOND:
        return None
    s = sorted(values)
    rank = max(1, -(-n * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def condition_mismatches(a, b):
    """Condition keys whose values differ between two results."""
    return [k for k in CONDITION_KEYS if a.get(k) != b.get(k)]
