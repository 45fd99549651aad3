"""The benchmark's arithmetic over raw samples (tested in test_stats.py)."""
import statistics

TAIL_PERCENTILES = (90, 95, 99, 99.9)


def spread(xs):
    """Interquartile distance as a share of the median, with the quartiles
    of `statistics.quantiles(xs, n=4)`: the benchmark's stability rule."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def supported_percentile(n):
    """The highest tail percentile with at least ten of `n` samples beyond
    it, or None when even p90 has fewer than ten."""
    ok = [p for p in TAIL_PERCENTILES if n * (1 - p / 100) >= 10 - 1e-9]
    return max(ok) if ok else None


def fail_ratio(failed, attempted):
    return failed / attempted


def busy_share(executor_s, wall_s, cores):
    """Executor run time over the capacity the wall interval offered."""
    return executor_s / (wall_s * cores)
