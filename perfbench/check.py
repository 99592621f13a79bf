"""Order-insensitive comparison of a Spark result with its oracle.

Both sides arrive as Arrow tables (``DataFrame.toArrow()`` and DuckDB's
``.arrow()``), so a result of any size is compared with vectorized
sorts instead of a per-row Python collect. Floats compare with the same
relative tolerance as ``tests/oracle_harness.py``; every other column
compares exactly after normalizing decimals, dates and timestamps.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

FLOAT_REL = 1e-9


def _canon(table: pa.Table) -> pd.DataFrame:
    cols = {}
    for name in sorted(table.column_names, key=str.lower):
        col = table.column(name)
        t = col.type
        if pa.types.is_decimal(t):
            col = pc.cast(col, pa.float64())
        elif pa.types.is_timestamp(t):
            col = pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64())
        elif pa.types.is_date(t):
            col = pc.cast(pc.cast(col, pa.date32()), pa.int32())
        elif pa.types.is_floating(t):
            col = pc.cast(col, pa.float64())
        cols[name.lower()] = col.to_pandas()
    return pd.DataFrame(cols)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    exact = [c for c in df.columns if df[c].dtype != np.float64]
    floats = [c for c in df.columns if df[c].dtype == np.float64]
    keys = exact + floats
    if not keys or df.empty:
        return df.reset_index(drop=True)
    return df.sort_values(keys, na_position="first", kind="mergesort").reset_index(drop=True)


def compare(spark_tbl: pa.Table, oracle_tbl: pa.Table) -> list[str]:
    """Mismatch descriptions; empty means the two results are equal as
    multisets of rows."""
    s_cols = sorted(c.lower() for c in spark_tbl.column_names)
    o_cols = sorted(c.lower() for c in oracle_tbl.column_names)
    if s_cols != o_cols:
        return [f"column mismatch: spark={s_cols} oracle={o_cols}"]
    if spark_tbl.num_rows != oracle_tbl.num_rows:
        return [f"row count: spark={spark_tbl.num_rows} oracle={oracle_tbl.num_rows}"]
    s, o = _sorted(_canon(spark_tbl)), _sorted(_canon(oracle_tbl))
    errors = []
    for c in s.columns:
        a, b = s[c], o[c]
        if a.dtype == np.float64 or b.dtype == np.float64:
            av, bv = a.to_numpy(np.float64, na_value=np.nan), b.to_numpy(np.float64, na_value=np.nan)
            ok = np.isclose(av, bv, rtol=FLOAT_REL, atol=1e-9, equal_nan=True)
        else:
            ok = ((a == b) | (a.isna() & b.isna())).to_numpy(bool)
        bad = np.flatnonzero(~ok)
        if len(bad):
            i = bad[0]
            errors.append(f"col {c}: {len(bad)} rows differ, first at {i}: spark={a.iloc[i]!r} oracle={b.iloc[i]!r}")
    return errors


def digest(table: pa.Table) -> str:
    """Order-insensitive fingerprint of a result (rows sorted first)."""
    df = _sorted(_canon(table))
    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]
