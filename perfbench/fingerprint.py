"""Order-insensitive result fingerprints.

A fingerprint is the row count plus the sum, modulo 2**64, of a 64-bit
hash of each row. Rows are rendered value by value into a canonical text
form that does not depend on which engine produced the frame: Spark's
``toPandas()`` and DuckDB's ``.df()`` differ in integer widths (an int64
count against a float64 HUGEINT sum), in how dates arrive (``date``
objects against midnight timestamps) and in how NULL reads (None, NaN or
NaT), and all of these render the same here.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import numpy as np
import pandas as pd

_MASK = (1 << 64) - 1


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "\x00"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "\x00"
        return str(int(f)) if f.is_integer() and abs(f) < 2**63 else repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(v)
        return ts.date().isoformat() if ts == ts.normalize() else ts.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row (struct cell)
        return _canon(v.asDict())
    return str(v)


def fingerprint(frame: pd.DataFrame, rows_only: bool = False) -> dict:
    """``{"rows": n, "hash": hex}``; ``hash`` is omitted when ``rows_only``."""
    out: dict = {"rows": int(len(frame))}
    if rows_only:
        return out
    cols = sorted(frame.columns)
    total = 0
    for row in frame[cols].itertuples(index=False, name=None):
        text = "\x1f".join(f"{c}={_canon(v)}" for c, v in zip(cols, row))
        digest = hashlib.blake2b(text.encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) & _MASK
    out["hash"] = f"{total:016x}"
    return out
