"""Order statistics the benchmark reports."""

from __future__ import annotations

import math

#: samples that must lie strictly beyond a reported percentile
MIN_TAIL_SAMPLES = 10


class TooFewSamples(ValueError):
    """The percentile would rest on fewer than MIN_TAIL_SAMPLES samples."""


def percentile(values: list[float], p: float, min_tail: int = MIN_TAIL_SAMPLES) -> float:
    """The ``p``-th percentile (0 < p < 100, nearest-rank) of ``values``.

    Refuses (``TooFewSamples``) unless at least ``min_tail`` samples lie
    beyond the rank, so with the default a p90 needs at least 100 samples
    and the median at least 20: a tail figure read off a handful of
    samples is noise, not a measurement."""
    if not 0 < p < 100:
        raise ValueError(f"percentile out of range: {p}")
    n = len(values)
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < min_tail:
        raise TooFewSamples(
            f"p{p:g} of {n} samples leaves {n - rank} beyond it (need {min_tail})"
        )
    return sorted(values)[rank - 1]


def reportable(values: list[float], ps=(50, 90, 99)) -> dict[float, float]:
    """The percentiles of ``ps`` that ``values`` can support."""
    out = {}
    for p in ps:
        try:
            out[p] = percentile(values, p)
        except TooFewSamples:
            break
    return out
