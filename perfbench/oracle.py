"""Independent DuckDB oracles for the benchmark's correctness checks."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

KEY = ("l_orderkey", "l_linenumber")


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=1")
    return con


def replay(con: duckdb.DuckDBPyConnection, base_path: str, batch_paths: list[str]) -> pd.DataFrame:
    """Expected table state: the base file with every CDC batch applied in
    order (an I/U row replaces its key, a D row removes it)."""
    con.execute(f"CREATE OR REPLACE TABLE expect AS SELECT * FROM read_parquet('{base_path}')")
    on = " AND ".join(f"expect.{k} = b.{k}" for k in KEY)
    for p in batch_paths:
        con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM read_parquet('{p}')")
        con.execute(f"DELETE FROM expect USING b WHERE {on}")
        con.execute("INSERT INTO expect SELECT * EXCLUDE (_op) FROM b WHERE _op IN ('I', 'U')")
    return con.execute("SELECT * FROM expect").fetchdf()


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        else:
            s = s.astype(object).where(s.notna(), None).map(lambda v: None if v is None else str(v))
        out[c] = s.reset_index(drop=True)
    return pd.DataFrame(out)


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-independent hash over every column)."""
    c = _canonical(df)
    if not len(c):
        return 0, 0
    h = pd.util.hash_pandas_object(c, index=False).to_numpy(dtype=np.uint64)
    return len(c), int(h.sum(dtype=np.uint64))


# ----------------------------------------------------------- query results

def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    key = df.apply(lambda row: tuple(repr(v) for v in row), axis=1)
    return df.iloc[key.argsort(kind="mergesort")].reset_index(drop=True) if len(df) else df


def _close(a, b, tol: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    return repr(a) == repr(b)


def same_result(got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-9) -> str | None:
    """None when ``got`` equals ``want`` up to row order and float ``tol``,
    else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _norm(got), _norm(want)
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if not _close(x, y, tol):
                return f"col {col} row {i}: {x!r} != {y!r}"
    return None
