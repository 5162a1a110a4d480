"""Order-insensitive result digests shared by the correctness gates and
by ``make_oracle_digests.py``.

A digest is the SHA-256 of the result's rows, each row canonicalised
column-by-name and the rows sorted, so two engines (Spark, DuckDB) or two
plans (fused, unfused) that return the same multiset of rows agree
regardless of row order, column order or Python value types.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

# floats are compared at 6 decimals: summation order differs between
# engines and between Spark task schedules in the last bits only
_FLOAT_DIGITS = 6


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(round(v, _FLOAT_DIGITS) + 0.0)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row of a struct column
        return _canon(v.asDict())
    if hasattr(v, "__len__"):  # list / tuple / numpy array
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def digest(columns: list[str], rows) -> dict:
    """``{"rows": n, "sha256": hex}`` of an iterable of row tuples whose
    fields follow ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(c.lower() for c in columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}

