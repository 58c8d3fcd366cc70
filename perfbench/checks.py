"""Order-insensitive result comparison: same column names, same row
count, same rows after canonicalizing values (columns sorted by name,
dates as ISO strings, floats equal within 1e-9 relative)."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal


def _canon(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(f"{v:.9e}" if isinstance(v, float) else repr(v) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """``None`` when both results hold the same rows, else a reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row count differs: {len(rows_a)} vs {len(rows_b)}"
    order_a = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    order_b = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    a = sorted((tuple(_canon(r[i]) for i in order_a) for r in rows_a), key=_sort_key)
    b = sorted((tuple(_canon(r[i]) for i in order_b) for r in rows_b), key=_sort_key)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb) or not all(_close(x, y) for x, y in zip(ra, rb)):
            return f"first differing row: {ra!r} vs {rb!r}"
    return None
