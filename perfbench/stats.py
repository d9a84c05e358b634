"""Percentiles that refuse to report a tail the samples cannot support."""

from __future__ import annotations

import math

MIN_TAIL_SAMPLES = 10


class TooFewSamples(ValueError):
    pass


def percentile(samples: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) by linear interpolation.

    A percentile above the median is refused unless at least
    ``MIN_TAIL_SAMPLES`` samples lie beyond it: with fewer, the value
    is set by one or two outliers and does not repeat from run to run.
    """
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(samples)
    if n == 0:
        raise TooFewSamples("no samples")
    beyond = math.floor(n * (100 - q) / 100)
    if q > 50 and beyond < MIN_TAIL_SAMPLES:
        raise TooFewSamples(
            f"p{q:g} of {n} samples has {beyond} beyond it; "
            f"needs {MIN_TAIL_SAMPLES} (at least {math.ceil(MIN_TAIL_SAMPLES * 100 / (100 - q))} samples)"
        )
    xs = sorted(samples)
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
