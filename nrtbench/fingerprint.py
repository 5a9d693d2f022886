"""Order-independent result fingerprints, identical for a Spark result
and its DuckDB oracle: columns sorted by name, each cell reduced to a
canonical string that keeps int and float apart, rows sorted, hashed."""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def _column(col: pd.Series) -> list[str]:
    """``_cell`` of every value of a column; numpy numeric columns take a
    faster path with the same strings."""
    dt = col.dtype
    if isinstance(dt, np.dtype) and dt.kind in "iub":
        return [repr(v) for v in col.tolist()]
    if isinstance(dt, np.dtype) and dt.kind == "f":
        return ["NaN" if v != v else repr(v) for v in col.tolist()]
    return [_cell(v) for v in col.tolist()]


def fingerprint(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, hex digest) of a result frame, independent of row and
    column order."""
    cols = sorted(pdf.columns)
    rows = sorted(map("\x1f".join, zip(*(_column(pdf[c]) for c in cols))))
    h = hashlib.sha1("\x1e".join(cols).encode())
    h.update("".join("\x1e" + r for r in rows).encode())
    return len(pdf), h.hexdigest()
