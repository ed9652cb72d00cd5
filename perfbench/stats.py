"""Order statistics the benchmark reports.

A timing is reported as its median plus the highest percentile that still
has at least ten samples beyond it, together with the sample count, so a
high percentile is never read off a handful of samples.
"""

from __future__ import annotations

import statistics

BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def p_hi(xs: list[float], beyond: int = BEYOND) -> dict:
    """The highest percentile of ``xs`` with at least ``beyond`` samples
    above it: the sorted value at index ``n - beyond - 1``.

    With ``n = beyond + 1`` that is the minimum. With fewer samples no
    percentile qualifies; the minimum is still reported, continuing the
    rule, and ``supported`` is False so the artifact says so."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return {"value": s[0], "percentile": round(100.0 / n, 2), "n": n,
                "beyond": n - 1, "supported": False}
    i = n - beyond - 1
    return {"value": s[i], "percentile": round(100.0 * (i + 1) / n, 2),
            "n": n, "beyond": n - 1 - i, "supported": True}


def ratio(num: float, den: float) -> dict:
    """An exact ratio with its base, so a reader can recompute it."""
    return {"value": (num / den) if den else 0.0, "num": num, "den": den}
