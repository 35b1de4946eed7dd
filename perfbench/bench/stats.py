"""Summary statistics with the sample-size rules the reported figures obey."""
import math

MIN_TAIL_SAMPLES = 40      # below this only the median is reported
MIN_TAIL_BATCHES = 10      # a tail needs this many micro-batches beyond it


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile (a value that was actually observed)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(samples, p):
    """p-th percentile of (value, batch) samples, or None when the sample does
    not support it: fewer than MIN_TAIL_SAMPLES samples, or fewer than
    MIN_TAIL_BATCHES distinct batches at or beyond the percentile. Events of
    one micro-batch share one commit, so they count once."""
    if len(samples) < MIN_TAIL_SAMPLES:
        return None
    v = percentile([x for x, _ in samples], p)
    beyond = {b for x, b in samples if x >= v}
    return v if len(beyond) >= MIN_TAIL_BATCHES else None


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))

