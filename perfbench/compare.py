"""Order-insensitive comparison of a query's rows with its DuckDB oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive comparable form (tools/check_oracles.py rules:
    floats to 6 places, ints as int64, timestamps at µs, the rest as
    strings), rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            df[c] = s.round(6)
        elif s.dtype.kind in "iu":
            df[c] = s.astype("int64").astype(str)
        elif str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]").astype(str)
        else:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _decimals(x: np.ndarray) -> int:
    """The most decimals (at most 6) any value of ``x`` is written with."""
    for d in range(6):
        if np.isclose(np.round(x, d), x, rtol=0, atol=1e-9).all():
            return d
    return 6


def column_step(x: np.ndarray) -> float:
    """How far a value of an oracle column may be off: one unit in the
    last decimal the column is rounded to (at most 6 places), and
    nothing in a column of whole numbers or single decimals. A sum
    rounded to cents that lands on an exact half cent rounds either way
    depending on summation order (seen on q3_top_orders)."""
    d = _decimals(x)
    return 10.0**-d if d >= 2 else 0.0


def same_rows(mine: pd.DataFrame, ref: pd.DataFrame) -> bool:
    """Equal as row multisets, floats compared as ``column_step`` says."""
    if sorted(mine.columns) != sorted(ref.columns) or len(mine) != len(ref):
        return False
    a, b = _norm(mine), _norm(ref)
    for c in a.columns:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x, y = a[c].to_numpy(float), b[c].to_numpy(float)
            tol = column_step(y) * (1 + 1e-6) + 1e-9
            if not (np.abs(x - y) <= tol).all():
                return False
        elif not (a[c] == b[c]).all():
            return False
    return True
