"""Summary statistics for timings."""

from __future__ import annotations

import math

# A percentile is reported only when at least this many samples lie
# beyond it; fewer would make the tail a handful of outliers.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``values``, or
    None when fewer than :data:`MIN_BEYOND` samples lie beyond it (p90
    needs at least 100 samples, p50 at least 20)."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must lie in (0, 100), got {q}")
    xs = sorted(values)
    rank = math.ceil(q / 100 * len(xs))
    if rank == 0 or len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]
