"""Result comparison between the engine and DuckDB.

Rows from the engine arrive as JSON (see `Main.valueJson`); DuckDB rows are
brought to the same shapes here. Rows compare as multisets: a float equals
another within a relative 1e-6, so summation order does not matter.
"""

import datetime
import decimal
import math


def norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return [norm(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return str(v)


def _key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return (2, math.inf)
        # integral values sort exactly; others on a coarse grid, so two
        # engines' last-digit differences keep rows in the same order
        return (2, v if v.is_integer() else float(f"{v:.6g}"))
    if isinstance(v, list):
        return (3, str([_key(x) for x in v]))
    return (4, v)


def _eq(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(engine_rows, duck_rows):
    """None when equal, else a short description of the first difference."""
    a = [[norm(x) for x in r] for r in engine_rows]
    b = [[norm(x) for x in r] for r in duck_rows]
    if len(a) != len(b):
        return f"row count {len(a)} != duckdb {len(b)}"
    a.sort(key=lambda r: [_key(x) for x in r])
    b.sort(key=lambda r: [_key(x) for x in r])
    for ra, rb in zip(a, b):
        if len(ra) != len(rb) or not all(_eq(x, y) for x, y in zip(ra, rb)):
            return f"row {ra} != duckdb {rb}"
    return None
