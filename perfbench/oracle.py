"""Output comparison with the DuckDB oracle: the rule of the engine's
own differential test (``tests/test_queries_vs_duckdb.py``): same column
set, same row count, and per-column values equal after an
order-insensitive sort, floats within 1e-6."""

from __future__ import annotations

import sys

import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        else:
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), kind="stable") \
        .reset_index(drop=True)


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """Why ``got`` differs from ``exp``, or None when it matches."""
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if pd.api.types.is_float_dtype(a):
            bad = ~((a.isna() & b.isna())
                    | ((a - b).abs() <= 1e-6 + 1e-6 * b.abs()))
        else:
            bad = ~((a.isna() & b.isna()) | (a == b))
        if bad.any():
            return (f"column {c}: {int(bad.sum())} mismatches, e.g. "
                    f"{a[bad].iloc[0]!r} vs {b[bad].iloc[0]!r}")
    return None


def matches(got: pd.DataFrame, exp: pd.DataFrame, what: str) -> bool:
    why = mismatch(got, exp)
    if why is not None:
        print(f"oracle mismatch in {what}: {why}", file=sys.stderr)
    return why is None
