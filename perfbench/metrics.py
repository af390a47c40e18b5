"""Summary statistics and host readings shared by the benchmark and its tests."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, beyond=10):
    """Highest percentile of `xs` that has at least `beyond` samples above it.

    Returns (value, percentile) or None when len(xs) <= beyond, where no
    such percentile exists.
    """
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    i = n - beyond - 1
    while i >= 0 and sum(1 for x in s if x > s[i]) < beyond:
        i -= 1  # ties at the cut: step down until enough lie strictly above
    if i < 0:
        return None
    return s[i], 100.0 * (i + 1) / n


def cpu_times():
    """Aggregate cpu line of /proc/stat: user..steal as integers."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def steal_frac(before, after):
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
