"""Summary statistics the benchmark reports."""
import statistics

# tail candidates, highest first
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p, n):
    """1-based nearest rank of percentile p (exact: p in tenths)."""
    return max(1, -(-round(p * 10) * n // 1000))


def percentile(samples, p):
    """Nearest-rank percentile."""
    return sorted(samples)[_rank(p, len(samples)) - 1]


def tail(samples):
    """The highest ladder percentile with at least 10 samples beyond it.

    Returns (value, percentile, n). With fewer than 20 samples no ladder
    percentile qualifies; the maximum is reported as percentile 100 so
    the sample count beside it shows how little it rests on."""
    n = len(samples)
    for p in LADDER:
        if n - _rank(p, n) >= 10:
            return percentile(samples, p), p, n
    return max(samples), 100.0, n


def median(samples):
    return statistics.median(samples)
