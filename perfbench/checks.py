"""Output checks: engine results against DuckDB over the same parquet.

Query outputs are compared with each query's registered oracle SQL the
way the engine's own oracle tests compare them: same row count, same
column names, the same dtype class (int vs float) per column, and
order-insensitive values, floats within 1e-9 relative.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _normalize(df: pd.DataFrame, keys: list[str] | None) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=keys or list(df.columns), kind="mergesort").reset_index(drop=True)


def _kind(dtype) -> str:
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    return "other"


def compare(
    got: pd.DataFrame, want: pd.DataFrame, keys: list[str] | None = None, rel_tol: float = 1e-9
) -> str | None:
    """None when the frames agree, else the first difference found.

    Rows are matched by sorting on `keys`, or on every column when no
    key is given. Give the key when float columns are only equal within
    tolerance: sorting on such a column can order near-equal rows
    differently on the two sides."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    a, b = _normalize(got, keys), _normalize(want, keys)
    for c in a.columns:
        ka, kb = _kind(a[c].dtype), _kind(b[c].dtype)
        if ka != kb and {ka, kb} <= {"int", "float", "bool"}:
            return f"column {c}: dtype {a[c].dtype} != oracle {b[c].dtype}"
        if "float" in (ka, kb):
            av = pd.to_numeric(a[c], errors="coerce").astype(float)
            bv = pd.to_numeric(b[c], errors="coerce").astype(float)
            for i, (x, y) in enumerate(zip(av, bv)):
                if not (
                    (math.isnan(x) and math.isnan(y))
                    or x == y
                    or math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9)
                ):
                    return f"column {c} row {i}: {x!r} != oracle {y!r}"
        else:
            neq = a[c].astype(str) != b[c].astype(str)
            if neq.any():
                i = int(neq.idxmax())
                return f"column {c} row {i}: {a[c].iloc[i]!r} != oracle {b[c].iloc[i]!r}"
    return None
