"""Order-insensitive result comparison under a stated float tolerance.

Two results match when they have the same column names (case-folded)
and the same multiset of rows. Non-float cells must be equal after
type normalization (any integer width, DECIMAL(p,0) and bool compare as
integers; timestamps as UTC epoch micros; dates as ISO strings; lists
as canonical text). Float cells may differ by:

* a summation-order difference: ``1e-9`` relative (plus ``1e-12``
  absolute), which covers re-associating a sum of up to ~10^6 doubles;
* for a column the oracle ROUNDs to ``d`` decimals, additionally one
  rounding step ``10**-d``: the two engines may sum in different orders
  and land on opposite sides of a rounding boundary.

Nothing larger is admitted.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

REL_TOL = 1e-9
ABS_TOL = 1e-12

_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)
_ALIAS = re.compile(r"\s*(?:as\s+)?\"?([A-Za-z_][A-Za-z0-9_]*)\"?", re.IGNORECASE)
_NOT_ALIAS = {"from", "as", "end", "over", "and", "or", "when", "then", "else",
              "where", "group", "order", "limit", "union", "having", "filter"}


def rounded_columns(sql: str) -> dict[str, int]:
    """Map output alias -> decimals for each ``ROUND(expr, d) AS alias``
    in an oracle's SQL (``ROUND(expr)`` means d = 0)."""
    out: dict[str, int] = {}
    for m in _ROUND.finditer(sql):
        depth, i, last_comma = 1, m.end(), None
        while i < len(sql) and depth:
            ch = sql[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                last_comma = i
            i += 1
        digits = 0
        if last_comma is not None:
            arg = sql[last_comma + 1:i - 1].strip()
            if not re.fullmatch(r"-?\d+", arg):
                continue
            digits = int(arg)
        a = _ALIAS.match(sql, i)
        if a and a.group(1).lower() not in _NOT_ALIAS:
            out[a.group(1).lower()] = digits
    return out


def _is_float(t: pa.DataType) -> bool:
    return pa.types.is_floating(t) or (pa.types.is_decimal(t) and t.scale > 0)


def _cell(v):
    """Canonical form of a non-float cell."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(round(v.timestamp() * 1_000_000))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_cell(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return v


def _columns(table: pa.Table) -> tuple[list[str], list[str]]:
    exact, floats = [], []
    for f in table.schema:
        (floats if _is_float(f.type) else exact).append(f.name.lower())
    return sorted(exact), sorted(floats)


def _rows(table: pa.Table, exact: list[str], floats: list[str]):
    t = table.rename_columns([n.lower() for n in table.column_names])
    ex = [[_cell(v) for v in t.column(c).to_pylist()] for c in exact]
    fl = [pc.cast(t.column(c), pa.float64()).to_pylist() for c in floats]
    return [
        (tuple(col[i] for col in ex), tuple(col[i] for col in fl))
        for i in range(t.num_rows)
    ]


def _close(a, b, step: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    tol = step * (1 + 1e-9) + REL_TOL * max(abs(a), abs(b)) + ABS_TOL
    return abs(a - b) <= tol


def _canon(col: pa.ChunkedArray) -> pa.ChunkedArray | None:
    """Vectorized canonical column for the fast path; None when the
    type has no cheap canonical form (lists, structs)."""
    t = col.type
    if pa.types.is_boolean(t) or pa.types.is_integer(t) or (
        pa.types.is_decimal(t) and t.scale == 0
    ):
        return pc.cast(col, pa.int64())
    if _is_float(t):
        return pc.cast(col, pa.float64())
    if pa.types.is_timestamp(t):
        return pc.cast(pc.cast(col, pa.timestamp("us", tz=t.tz)), pa.int64())
    if pa.types.is_date(t):
        return pc.cast(pc.cast(col, pa.date32()), pa.int32()).cast(pa.int64())
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pc.cast(col, pa.large_string())
    return None


def _fast_match(actual, expected, exact, floats, steps) -> bool:
    """Sort both sides by every column and compare row by row; a miss
    here is not a verdict (float noise may reorder tied rows)."""
    sides = []
    for t in (actual, expected):
        t = t.rename_columns([n.lower() for n in t.column_names])
        cols = {}
        for c in exact + floats:
            canon = _canon(t.column(c))
            if canon is None:
                return False
            cols[c] = canon
        tb = pa.table(cols)
        if tb.num_rows:
            idx = pc.sort_indices(tb, sort_keys=[(c, "ascending") for c in exact + floats],
                                  null_placement="at_end")
            tb = tb.take(idx)
        sides.append(tb)
    a, e = sides
    for c in exact:
        if not a.column(c).combine_chunks().equals(e.column(c).combine_chunks()):
            return False
    for c, step in zip(floats, steps):
        x = a.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
        y = e.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
        nan = np.isnan(x) | np.isnan(y)
        if not np.array_equal(np.isnan(x), np.isnan(y)):
            return False
        x, y = x[~nan], y[~nan]
        if np.isinf(x).any() or np.isinf(y).any():
            if not np.array_equal(x[np.isinf(x) | np.isinf(y)], y[np.isinf(x) | np.isinf(y)]):
                return False
            keep = ~(np.isinf(x) | np.isinf(y))
            x, y = x[keep], y[keep]
        tol = step * (1 + 1e-9) + REL_TOL * np.maximum(np.abs(x), np.abs(y)) + ABS_TOL
        if not (np.abs(x - y) <= tol).all():
            return False
    return True


def compare(actual: pa.Table, expected: pa.Table, rounded: dict[str, int] | None = None,
            limit: int = 3) -> list[str]:
    """Return the differences between two results (empty when they
    match). ``rounded`` maps lower-case column names to the decimals
    the oracle ROUNDs them to."""
    rounded = rounded or {}
    a_cols = sorted(n.lower() for n in actual.column_names)
    e_cols = sorted(n.lower() for n in expected.column_names)
    if a_cols != e_cols:
        return [f"columns differ: got {a_cols}, expected {e_cols}"]
    if actual.num_rows != expected.num_rows:
        return [f"row count differs: got {actual.num_rows}, expected {expected.num_rows}"]
    exact, floats = _columns(expected)
    a_exact, _ = _columns(actual)
    if a_exact != exact:
        # one side typed a column as float, the other not: compare all
        # such columns as floats
        floats = sorted(set(floats) | (set(exact) ^ set(a_exact)))
        exact = [c for c in exact if c not in floats]
    steps = [10.0 ** -rounded[c] if c in rounded else 0.0 for c in floats]
    if _fast_match(actual, expected, exact, floats, steps):
        return []
    # Slow path: float noise can reorder rows whose exact columns tie,
    # so match rows within each group of equal exact cells.
    groups: dict[tuple, list] = {}
    for ex, fl in _rows(expected, exact, floats):
        groups.setdefault(ex, []).append(fl)
    problems: list[str] = []
    for ex, fl in _rows(actual, exact, floats):
        cands = groups.get(ex)
        hit = None
        for j, efl in enumerate(cands or ()):
            if all(_close(x, y, s) for x, y, s in zip(fl, efl, steps)):
                hit = j
                break
        if hit is None:
            near = f"; nearest expected floats {cands[0]}" if cands else ""
            problems.append(f"unexpected row {dict(zip(exact, ex))} {dict(zip(floats, fl))}{near}")
        else:
            cands.pop(hit)
        if len(problems) >= limit:
            return problems
    for ex, rest in groups.items():
        for fl in rest:
            problems.append(f"missing row {dict(zip(exact, ex))} {dict(zip(floats, fl))}")
            if len(problems) >= limit:
                return problems
    return problems
