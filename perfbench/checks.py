"""Output checks. They run outside every timed region.

``table_hash`` is the value-hash rule of ``tools/driver_sim.py``: cells
rendered canonically, columns in name order, rows sorted, sha256. When
two row sets of the same shape differ in hash, ``rows_match`` repeats
the comparison allowing float cells to differ by one unit in the fourth
decimal (both engines round to 4 places, and values that land on a
rounding tie can be rounded apart). Such a result is reported as a
tolerance match, separately from exact matches, never silently.
"""

from __future__ import annotations

import hashlib
import math

FLOAT_TOL = 1.01e-4


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _canon(cols: list[str], row: tuple) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    exact = tuple(_cell(row[i]) for i in order if not isinstance(row[i], float))
    floats = tuple(row[i] for i in order if isinstance(row[i], float))
    return exact, floats


def _close(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= FLOAT_TOL * max(1.0, abs(a) / 1e4)


def rows_match(cols_a, rows_a, cols_b, rows_b) -> str:
    """'exact', 'tolerance' or a mismatch reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"schema {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} != {len(rows_b)}"
    if table_hash(cols_a, rows_a) == table_hash(cols_b, rows_b):
        return "exact"
    a = sorted((_canon(cols_a, r) for r in rows_a), key=_sort_key)
    b = sorted((_canon(cols_b, r) for r in rows_b), key=_sort_key)
    for (ea, fa), (eb, fb) in zip(a, b):
        if ea != eb or len(fa) != len(fb) or not all(map(_close, fa, fb)):
            return f"value {ea}{fa} != {eb}{fb}"
    return "tolerance"


def _sort_key(c: tuple) -> tuple:
    exact, floats = c
    return exact, tuple((math.isnan(f), 0.0 if math.isnan(f) else round(f, 3))
                        for f in floats)
