"""Summary statistics and the order-insensitive result hash."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# Percentiles offered as a tail figure, lowest first.
_TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    if not len(values):
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(values, min_beyond: int = 10) -> dict | None:
    """The highest percentile that has at least ``min_beyond`` samples
    beyond it, with its value and the sample count; None when even the
    median has fewer than ``min_beyond`` samples above it."""
    n = len(values)
    best = None
    for q in _TAIL_CANDIDATES:
        if n * (1.0 - q / 100.0) >= min_beyond - 1e-9:
            best = q
    if best is None:
        return None
    return {"percentile": best, "value": percentile(values, best), "samples": n}


def _canon_value(v):
    """Stable text for one cell: floats to 10 significant digits (so a
    different summation order does not change the hash), arrays and
    structs element by element."""
    if v is None:
        return "\x00"
    if isinstance(v, float | np.floating):
        if math.isnan(v):
            return "nan"
        return format(float(v), ".10g")
    if isinstance(v, list | tuple | np.ndarray):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result frame: the same rows in any
    order and with columns in any order hash alike; any changed value,
    missing row or extra row changes the hash (rows are summed as
    64-bit hashes, so duplicates count)."""
    cols = sorted(df.columns)
    canon = pd.DataFrame({c: df[c].map(_canon_value).astype(str) for c in cols})
    if canon.empty:
        row_sum = 0
    else:
        row_hashes = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
        row_sum = int(row_hashes.sum(dtype=np.uint64))
    header = "|".join(cols)
    return f"{len(df)}:{pd.util.hash_pandas_object(pd.Series([header]), index=False).iloc[0]:x}:{row_sum:016x}"
