"""Summary statistics the benchmark reports."""
import math


def geomean(values):
    """Geometric mean of positive values."""
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(samples, beyond=10):
    """The highest of PERCENTILES that has at least ``beyond`` samples above
    it, as ``(percentile, value)`` by the nearest-rank rule; None when the
    sample is too small for any of them."""
    s = sorted(samples)
    for p in PERCENTILES:
        rank = math.ceil(p / 100 * len(s))
        if rank >= 1 and len(s) - rank >= beyond:
            return p, s[rank - 1]
    return None


def effective_parallelism(executor_run_ms, wall_ms, cores):
    """Executor busy time over the time ``cores`` executor threads had."""
    return executor_run_ms / (wall_ms * cores)


def uncovered_ms(start, end, spans):
    """Milliseconds of [start, end] that no (begin, finish) span covers:
    the driver-side gap between and around an execution's jobs."""
    covered, reach = 0.0, start
    for b, f in sorted(spans):
        b, f = max(b, reach), min(f, end)
        if f > b:
            covered += f - b
            reach = f
    return (end - start) - covered
