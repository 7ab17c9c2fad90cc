"""The benchmark's own arithmetic, free of Spark so it can be tested
on synthetic inputs (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import datetime as dt
import math
import statistics
from decimal import Decimal

#: relative tolerance for float cells in the output check: Spark and
#: DuckDB may sum the same doubles in a different order, which moves
#: the last ulp (relative difference ~1e-16)
FLOAT_REL_TOL = 1e-12
FLOAT_ABS_TOL = 1e-12


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return failed / attempted


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it that its children cover
    (children may overlap each other or stick out of the span)."""
    t0, t1 = span
    covered, end = 0.0, t0
    for c0, c1 in sorted(children):
        c0, c1 = max(c0, end), min(c1, t1)
        if c1 > c0:
            covered += c1 - c0
            end = c1
    return (t1 - t0) - covered


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of
    the median (``statistics.quantiles(..., n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def trend(values: list[float]) -> float:
    """Least-squares slope of ``values`` against their index, as a
    share of their mean per step (0 for fewer than two values)."""
    n = len(values)
    if n < 2:
        return 0.0
    xm, ym = (n - 1) / 2, sum(values) / n
    num = sum((i - xm) * (v - ym) for i, v in enumerate(values))
    den = sum((i - xm) ** 2 for i in range(n))
    return num / den / ym


# --- output check ----------------------------------------------------------


def _cell(v):
    """Engine-neutral form of one result cell: floats stay floats (for
    the tolerant compare), sequences become tuples, the rest becomes
    the same exact text the tests' canonical rows use."""
    if v is None:
        return "<null>"
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        f = float(v)
        return "<nan>" if math.isnan(f) else f
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return str(bool(v))
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return str(int(v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_cell(x) for x in v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    try:
        if v != v:  # pandas NaT / NA
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def _key(c):
    """Sort key that ignores float noise below ~10 significant digits,
    so rows that differ only in the last ulp sort alike."""
    if isinstance(c, float):
        return (1, f"{c:.10g}")
    if isinstance(c, tuple):
        return (2, tuple(_key(x) for x in c))
    return (0, c)


def _cells_match(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_cells_match, a, b))
    return a == b


def canonical(columns: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, cells normalized, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda row: tuple(_key(c) for c in row))


def results_match(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> str | None:
    """``None`` if the two results hold the same rows in any order —
    float cells within ``FLOAT_REL_TOL``, every other cell exact —
    else a one-line reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}"
    a, b = canonical(cols_a, rows_a), canonical(cols_b, rows_b)
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    for ra, rb in zip(a, b):
        if not all(map(_cells_match, ra, rb)):
            return f"first differing row: {ra!r} vs {rb!r}"[:300]
    return None
