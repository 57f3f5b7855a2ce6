"""Summaries of timing samples."""

from __future__ import annotations

from statistics import median

#: percentiles a tail is read at, highest last
TAIL_LADDER = (50.0, 90.0, 99.0, 99.9)


def _rank(n: int, pct: float) -> int:
    """1-based nearest rank of ``pct`` among ``n`` sorted samples."""
    return max(1, -(-round(pct * 10) * n // 1000))


def tail_pct(n: int) -> float:
    """Highest ladder percentile with at least ten samples beyond it, else 0."""
    ok = [p for p in TAIL_LADDER if n - _rank(n, p) >= 10]
    return ok[-1] if ok else 0.0


def summarize(samples: list[float]) -> dict[str, float]:
    """median, tail (value at :func:`tail_pct`; the median when it is 0),
    tail_pct and n of a sample list; all 0 for no samples."""
    if not samples:
        return {"": 0.0, ".tail": 0.0, ".tail_pct": 0.0, ".n": 0}
    vals = sorted(samples)
    pct = tail_pct(len(vals))
    mid = median(vals)
    return {
        "": mid,
        ".tail": vals[_rank(len(vals), pct) - 1] if pct else mid,
        ".tail_pct": pct,
        ".n": len(vals),
    }
