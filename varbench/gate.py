"""Correctness gate: compare an op's result rows with the expected rows
as normalised multisets.

Cells are normalised so that only a difference in value counts:
floats are rounded to 9 decimals (the registry queries are written to
be exact across engines; the rounding only removes repr noise), and
strings holding a JSON object or array are compared as parsed values,
because key order and spacing are rendering choices.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math


def normalize_cell(v):
    if v is None or isinstance(v, (bool, int)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_cell(x) for x in v)
    if isinstance(v, str) and v[:1] in "{[":
        try:
            return "json:" + json.dumps(json.loads(v), sort_keys=True)
        except ValueError:
            return v
    return str(v)


def multiset(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Rows with columns in name order and cells normalised, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(normalize_cell(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [columns[i] for i in order], norm


def compare(got_cols: list[str], got_rows: list[tuple],
            want_cols: list[str], want_rows: list[tuple]) -> str | None:
    """None when the two results agree, else a one-line reason."""
    gc, g = multiset(list(got_cols), got_rows)
    wc, w = multiset(list(want_cols), want_rows)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    for a, b in zip(g, w):
        if a != b:
            return f"first differing row {a!r} != {b!r}"
    return None
