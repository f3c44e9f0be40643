"""Small statistics helpers shared by the benchmark and its self-test."""
import math


def tail_percentile(xs, beyond=10, cap=0.90):
    """The highest percentile, at most `cap`, with at least `beyond`
    samples ranked above it.

    Returns (value, {"percentile": p, "beyond": k}) where value is the
    sample at rank ceil(p * n) of the sorted list and k samples rank above
    it. Fewer than `beyond` + 1 samples leave no such percentile and raise
    ValueError.
    """
    xs = sorted(xs)
    n = len(xs)
    if n < beyond + 1:
        raise ValueError(f"{n} samples: a tail percentile needs {beyond + 1}")
    k = min(math.ceil(cap * n) - 1, n - 1 - beyond)
    return xs[k], {"percentile": (k + 1) / n, "beyond": n - 1 - k}


def nearest_rank(xs, q):
    """The q-quantile by nearest rank: the sample at rank ceil(q * n)."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]
