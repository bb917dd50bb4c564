"""Order-insensitive result fingerprints, shared by the Spark side and the
DuckDB oracle side of the output check.

A fingerprint is the row count, the sorted column names and a hash that
sums one 64-bit digest per row, so row order does not matter but
duplicate rows do. Values are canonicalised first, so the two engines'
Python types (Decimal vs float, int vs integral float, aware vs naive
UTC timestamps, Row vs tuple) hash alike.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from decimal import Decimal

_MASK = (1 << 64) - 1
FLOAT_DIGITS = 12


def canon(v):
    """Canonical, hashable form of one result cell."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f.is_integer() and abs(f) < 2 ** 53:
            return int(f)
        return format(f, f".{FLOAT_DIGITS}g")
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return repr(v)


def row_digest(row) -> int:
    h = hashlib.blake2b(repr(row).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def fingerprint(columns, rows) -> dict:
    """``{"rows", "columns", "hash"}`` for a result given as column names
    and row sequences in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_digest(tuple(canon(r[i]) for i in order))) & _MASK
        n += 1
    return {"rows": n, "columns": sorted(columns), "hash": f"{total:016x}"}
