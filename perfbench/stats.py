"""The tail-percentile rule and the prefix arithmetic."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least
    ``beyond`` samples above it: the sorted sample at index n-1-beyond.

    With ``beyond`` or fewer samples no such percentile exists; the
    maximum is the highest percentile the sample supports, so it is
    returned with percentile 100."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(values)
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - 1 - beyond
    return s[k], 100.0 * (k + 1) / n, n


def marginals(prefix_s: list[tuple[str, float]]) -> dict[str, float]:
    """Marginal cost of each stage from cumulative-prefix timings: the
    first entry is the bare source, each later one adds one stage."""
    out = {}
    for (_, prev), (name, cur) in zip(prefix_s, prefix_s[1:]):
        out[name] = cur - prev
    return out
