"""Output comparison: a program's result frame against an independent
reference frame, both as pandas frames."""

from __future__ import annotations

import numpy as np
import pandas as pd


def epoch_us(series: pd.Series) -> pd.Series:
    """Timestamps as int64 microseconds since the epoch (UTC)."""
    if isinstance(series.dtype, pd.DatetimeTZDtype):
        series = series.dt.tz_convert("UTC").dt.tz_localize(None)
    if pd.api.types.is_datetime64_any_dtype(series.dtype):
        return pd.Series(series.values.astype("datetime64[us]").astype(np.int64), index=series.index)
    return series.astype(np.int64)


def same_rows(out: pd.DataFrame | None, expected: pd.DataFrame, ts_cols=(), rtol: float = 0.0) -> bool:
    """Multiset equality of rows, ignoring row order.

    Columns must have the same names in the same order.  ``ts_cols`` are
    compared as epoch microseconds.  Float columns compare with relative
    tolerance ``rtol`` (0 means exact); NaN/NULL equals NaN/NULL."""
    if out is None or list(out.columns) != list(expected.columns) or len(out) != len(expected):
        return False
    a, b = out.copy(), expected.copy()
    for c in ts_cols:
        a[c], b[c] = epoch_us(a[c]), epoch_us(b[c])
    cols = list(a.columns)
    a = a.sort_values(cols, kind="mergesort", na_position="first").reset_index(drop=True)
    b = b.sort_values(cols, kind="mergesort", na_position="first").reset_index(drop=True)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c].dtype) or pd.api.types.is_float_dtype(b[c].dtype):
            x, y = x.astype(np.float64), y.astype(np.float64)
            if not np.array_equal(np.isnan(x), np.isnan(y)):
                return False
            m = ~np.isnan(x)
            if not np.all(np.abs(x[m] - y[m]) <= rtol * np.abs(y[m])):
                return False
        elif not np.array_equal(x.astype(object), y.astype(object)):
            return False
    return True
