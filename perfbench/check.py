"""Order-independent result digests used by every workload's output check."""

from __future__ import annotations

import datetime
import decimal

import numpy as np
import pandas as pd


def _sig9(x: np.ndarray) -> np.ndarray:
    """Round to 9 significant digits, so that results computed in another
    summation order still compare equal."""
    out = x.astype(np.float64, copy=True)
    ok = np.isfinite(out) & (out != 0)
    mag = np.floor(np.log10(np.abs(out[ok])))
    scale = 10.0 ** (8 - mag)
    out[ok] = np.round(out[ok] * scale) / scale
    return out


def _canon(col: pd.Series) -> pd.Series:
    """Numbers compare by value (1, 1.0 and Decimal('1.00') alike),
    timestamps and dates by instant, everything else by its text."""
    if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
        return pd.Series(_sig9(col.to_numpy(dtype=np.float64, na_value=np.nan)))
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        return pd.Series(col.astype("datetime64[us]").astype(np.int64)
                         .where(col.notna(), np.iinfo(np.int64).min).to_numpy())
    vals = col.dropna()
    first = vals.iloc[0] if len(vals) else None
    if isinstance(first, (decimal.Decimal, float, int, np.number)):
        return _canon(pd.to_numeric(col.astype(object), errors="raise").astype(np.float64))
    if isinstance(first, (datetime.date, datetime.datetime, pd.Timestamp)):
        return _canon(pd.to_datetime(col))
    if isinstance(first, (list, tuple, np.ndarray, dict)):
        col = col.map(lambda v: None if v is None else repr(
            [x.item() if isinstance(x, np.generic) else x for x in v]
            if isinstance(v, (list, tuple, np.ndarray)) else v))
    return pd.Series(col.astype(object).where(col.notna(), None).to_numpy())


def row_hashes(df: pd.DataFrame, columns: list[str]) -> np.ndarray:
    """One 64-bit hash per row over ``columns``, matched by name."""
    canon = pd.DataFrame({c: _canon(df[c].reset_index(drop=True))
                          for c in sorted(columns)})
    return pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)


def digest(df: pd.DataFrame, columns: list[str] | None = None) -> tuple[int, int]:
    """(row count, order-independent hash) over ``columns`` (default: all)."""
    if not len(df):
        return 0, 0
    rows = row_hashes(df, list(columns if columns is not None else df.columns))
    return len(df), int(rows.sum(dtype=np.uint64))
