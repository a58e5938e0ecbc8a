"""Order statistics and Spark SQL-metric parsing for the benchmark.

Pure Python with no Spark import, so the helpers are testable on their own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import re

#: A percentile is reported only when at least this many samples lie
#: beyond it; below that a single outlier decides the value.
MIN_BEYOND = 10


def supports(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` of them above
    the ``p``-th percentile (p in 0..100)."""
    return n > 0 and n * (100.0 - p) / 100.0 >= MIN_BEYOND


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (the 'inclusive' method of
    ``statistics.quantiles``, exact at the sample points)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def summary(values, p: float = 90) -> dict:
    """Median and ``p``-th percentile with the sample count and whether
    the count supports ``p`` (see ``supports``)."""
    xs = list(values)
    return {
        "n": len(xs),
        "p50": percentile(xs, 50) if xs else None,
        f"p{p:g}": percentile(xs, p) if xs else None,
        f"p{p:g}_supported": supports(len(xs), p),
    }


# ---- Spark SQL metric strings -------------------------------------------

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_SIZE_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "EiB": 1 << 60, "PiB": 1 << 50,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)\s*(?:\(|$)")


def parse_sql_metric(text: str) -> float | None:
    """Total of one formatted SQL metric as the status store renders it.

    Spark prints either a bare number (``"1,234"``), a value with a unit
    (``"15.3 s"``, ``"2.0 MiB"``), or an aggregate over tasks::

        total (min, med, max (stageId: taskId))
        15.3 s (120 ms, 3.1 s, 6.0 s (stage 3.0: task 17))

    Returns the total in base units: seconds for timings, bytes for sizes,
    the count otherwise. ``None`` when the string holds no number.
    """
    if text is None:
        return None
    lines = [ln for ln in str(text).strip().splitlines() if ln.strip()]
    if not lines:
        return None
    # the aggregate form puts the legend on its own first line
    line = lines[1] if lines[0].lstrip().startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit == "":
        return value
    return None
