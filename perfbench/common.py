"""Pieces shared by the workloads: the operation record and the
order-insensitive result comparison (exact for non-floats, 1e-9 relative
for floats, as in tools/check.py)."""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Optional


@dataclass
class Op:
    """One operation of a pass.

    ``build(ib, tables, params)`` returns an ibis_spark Table; ``sink``
    names the delivery call.  The result is checked either against
    ``oracle_sql(params)`` run on DuckDB, or by ``check(result, params,
    duck)``, which returns ``(ok, info)``.  ``known_fault`` marks the
    one operation that is expected to fail its check until the program
    fault it names is fixed; it is counted as failed, not as incorrect.
    """

    name: str
    build: Callable
    sink: str
    oracle_sql: Optional[Callable] = None
    check: Optional[Callable] = None
    known_fault: Optional[str] = None
    setop_cols: tuple = ()


def _is_float(v):
    return isinstance(v, float)


def _row_key(row):
    # non-float cells first, so last-ulp float differences cannot reorder
    # rows that differ elsewhere
    plain = tuple((v is None, "" if v is None else v) for v in row if not _is_float(v))
    floats = tuple(v for v in row if _is_float(v))
    return plain, floats


def _cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if _is_float(a) or _is_float(b):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_rows(cols, rows, ocols, orows):
    """Return None when the two results agree, else a short reason."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows vs oracle {len(orows)}"
    names = sorted(cols)
    pick = [cols.index(n) for n in names]
    opick = [ocols.index(n) for n in names]
    a = sorted((tuple(r[i] for i in pick) for r in rows), key=_row_key)
    b = sorted((tuple(r[i] for i in opick) for r in orows), key=_row_key)
    for i, (ra, rb) in enumerate(zip(a, b)):
        if not all(_cell_eq(x, y) for x, y in zip(ra, rb)):
            return f"row {i}: {ra} vs oracle {rb}"
    return None


def arrow_rows(table):
    cols = table.column_names
    data = table.to_pydict()
    return cols, list(zip(*(data[c] for c in cols))) if cols else []


def duck_rows(duck, sql):
    res = duck.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, res.fetchall()
