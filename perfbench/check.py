"""Result checks: an order-insensitive value hash, and a fallback
compare with a stated float tolerance for results whose last digits
differ between Spark and DuckDB (summation order)."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

#: relative / absolute tolerance of the fallback compare
REL_TOL = 1e-9
ABS_TOL = 1e-6


def _cell(x):
    """Canonical, comparable form of one cell."""
    if x is None:
        return None
    if isinstance(x, decimal.Decimal):
        return float(x)
    if isinstance(x, float):
        return None if math.isnan(x) else x
    if isinstance(x, (list, tuple)):
        return tuple(_cell(v) for v in x)
    if isinstance(x, dict):
        return tuple(sorted((k, _cell(v)) for k, v in x.items()))
    if isinstance(x, datetime.datetime) and x.tzinfo is not None:
        return x.replace(tzinfo=None)
    if hasattr(x, "item"):  # numpy scalar
        return _cell(x.item())
    return x


def _key(row: tuple):
    # None sorts first; floats sort at 9 significant digits so a
    # last-digit difference cannot reorder rows between two engines
    return tuple(
        (v is not None, type(v).__name__,
         float(f"{v:.9g}") if isinstance(v, float) else v if isinstance(v, (int, str)) else repr(v))
        for v in row
    )


def canonical(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Lower-case columns sorted by name; cells canonicalized; rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    cols = [columns[i].lower() for i in order]
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_key)
    return cols, out


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    cols, canon = canonical(columns, rows)
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in canon:
        h.update(repr(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, want_cols, want_rows) -> tuple[str, str | None]:
    """Returns ``(mode, error)``: mode ``hash`` when the value hashes
    agree, ``tolerance`` when only the toleranced compare does; error
    is None on agreement."""
    gc, g = canonical(got_cols, got_rows)
    wc, w = canonical(want_cols, want_rows)
    if gc != wc:
        return "columns", f"columns differ: {gc} vs {wc}"
    if len(g) != len(w):
        return "rows", f"row count differs: {len(g)} vs {len(w)}"
    if value_hash(got_cols, got_rows) == value_hash(want_cols, want_rows):
        return "hash", None
    for i, (a, b) in enumerate(zip(g, w)):
        if not _close(a, b):
            return "tolerance", f"row {i} differs beyond tolerance: {a} vs {b}"
    return "tolerance", None
