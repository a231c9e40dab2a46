"""Result comparison against the DuckDB oracle: rows as an
order-insensitive multiset, columns matched by lower-cased name, floats
compared bit for bit."""

from __future__ import annotations

import datetime
import math
import struct
from collections import Counter


def _norm(v):
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else struct.pack("<d", v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_norm(x) for x in v))
    return (type(v).__name__, v)


def _multiset(cols: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def same_rows(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """None when the engine's rows equal the oracle's, else why not."""
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != oracle {len(d_rows)}"
    diff = _multiset(s_cols, s_rows) - _multiset(d_cols, d_rows)
    if diff:
        return f"{sum(diff.values())} rows differ from the oracle"
    return None
