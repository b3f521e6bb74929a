"""Pure helpers of the benchmark: seeded query order, percentiles, span
arithmetic. Kept free of I/O so that test_stats.py can check them."""
import random
import statistics

TAIL_BEYOND = 10


def pass_orders(queries, seed, salt, count):
    """`count` permutations of `queries`, one per pass, fixed by (seed, salt).

    The order changes from pass to pass, so no query's time depends on a
    fixed neighbour."""
    rng = random.Random(f"{salt}:{seed}")
    orders = []
    for _ in range(count):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n). The value is the (beyond+1)-th largest
    sample and the percentile is 100 * (n - beyond) / n. Raises ValueError
    when the sample is too small for that percentile to lie above the
    median, so a tail can never quietly be the p50."""
    n = len(values)
    if n < 2 * beyond + 2:
        raise ValueError(
            f"{n} samples cannot support a tail with {beyond} samples beyond it "
            f"above the median; need at least {2 * beyond + 2}")
    ordered = sorted(values)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def covered(span, children):
    """Length of the part of `span` = (start, end) that the union of the
    `children` intervals covers."""
    lo, hi = span
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in children if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
