"""Row normalisation and the comparisons every workload's checks use.

Rows from Spark and from the reference side are turned into lists of plain
values (timestamps as ISO text, decimals as floats) and compared as
multisets, floats within a few units in the last place (the engine and the
references both sum money as exact decimals).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from collections import Counter


def norm_value(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def norm_rows(rows) -> list[list]:
    return [[norm_value(v) for v in r] for r in rows]


def _sort_key(row):
    return tuple(f"{v:.6g}" if isinstance(v, float) else repr(v) for v in row)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-15, abs_tol=1e-12)
    return a == b


def rows_match(got, want) -> bool:
    """Multiset equality of two row lists (already normalised)."""
    if len(got) != len(want):
        return False
    if Counter(map(tuple, got)) == Counter(map(tuple, want)):
        return True  # equal exactly; the sort below allows float rounding
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return False
    return True
