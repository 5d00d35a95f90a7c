"""Summary statistics for the closed-loop latency samples."""

from __future__ import annotations

import math

#: A tail percentile is reported only when at least this many samples
#: lie beyond it; fewer would make the figure one or two outliers.
TAIL_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, int, int] | None:
    """The highest whole percentile with at least ``TAIL_BEYOND`` samples
    beyond it, as ``(value, percentile, sample_count)``.

    Nearest-rank: percentile ``p`` is the ``ceil(p * n / 100)``-th
    smallest sample, and the samples beyond it are the ones ranked
    after it.  Returns None when no percentile above p50 qualifies
    (fewer than 21 samples): a smaller sample cannot support a tail
    figure, and a guessed one would be noise.
    """
    n = len(samples)
    ordered = sorted(samples)
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= TAIL_BEYOND:
            return ordered[rank - 1], p, n
    return None


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    return math.exp(sum(math.log(v) for v in values) / len(values))
