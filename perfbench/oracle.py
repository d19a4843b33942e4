"""Output checks for the batch workloads: each registry job against its DuckDB
oracle, run on the same parquet files.

The comparison uses the canonical form of the repository's oracle-parity
tests (``tests/conftest.py``): columns sorted by name, rows sorted (so row
order does not matter), integers as nullable Int64, timestamps as
microsecond strings, floats compared exactly (NaN equal to NaN). A difference is reported with the job name and the first
differing row of the two canonical frames.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form of a result frame."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("string")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif s.dtype == object or pd.api.types.is_string_dtype(s):
            sample = s.dropna()
            if len(sample) and isinstance(sample.iloc[0], (list, tuple, dict, np.ndarray)):
                raise ValueError(f"non-scalar cells in column {c!r}")
            df[c] = s.astype("string")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def _row(df: pd.DataFrame, i: int) -> dict:
    return {c: df[c].iloc[i] for c in df.columns} if i < len(df) else {}


def diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when the frames match, else a one-line description that
    names the first differing row."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    try:
        a, b = canonical(got), canonical(want)
    except ValueError as exc:
        return str(exc)
    n = min(len(a), len(b))
    bad = np.zeros(n, dtype=bool)
    for c in a.columns:
        x, y = a[c].iloc[:n], b[c].iloc[:n]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            xv, yv = x.to_numpy(), y.to_numpy()
            bad |= ~((xv == yv) | (np.isnan(xv) & np.isnan(yv)))
        else:
            bad |= ~((x == y).fillna(False) | (x.isna() & y.isna())).to_numpy(dtype=bool)
    if bad.any():
        i = int(np.argmax(bad))
        return f"first differing row {i}: got {_row(a, i)} oracle {_row(b, i)}"
    if len(a) != len(b):
        return f"row count {len(a)} != oracle {len(b)}; first extra row {_row(a if len(a) > n else b, n)}"
    return None


def tables(data_dir: str) -> list[str]:
    """Names of the parquet tables in ``data_dir``."""
    return sorted(n[: -len(".parquet")] for n in os.listdir(data_dir) if n.endswith(".parquet"))


class Oracle:
    """A DuckDB connection with every input table registered as a view."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables(data_dir):
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def run(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()
