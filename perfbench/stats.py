"""The tail rule (the highest percentile with at least ten samples beyond
it) and the latency summary built on it."""

from __future__ import annotations

import numpy as np

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile that leaves at least ten of ``n``
    samples beyond it, or None when ``n`` is too small for any."""
    best = None
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= TAIL_BEYOND - 1e-9:
            best = q
    return best


def summarize(values: list[float]) -> dict:
    """Median plus tail of a latency sample, with the sample count and the
    tail percentile used (None when the sample supports no tail)."""
    n = len(values)
    q = tail_percentile(n)
    return {
        "n": n,
        "p50": float(np.median(values)) if n else None,
        "tail_pct": q,
        "tail": float(np.percentile(values, q)) if q is not None else None,
    }
