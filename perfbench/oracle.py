"""DuckDB oracle for the output check.

Each workload query's registered oracle SQL runs on DuckDB over the same
parquet directory the engine reads.  Both sides are normalised the way
``tests/test_registry_oracle.py`` does it: columns sorted by name, every
value stringified, rows sorted.
"""

from __future__ import annotations

import os

import pandas as pd

from datagen import TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def expected(sf_dir: str, oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Normalised DuckDB answers for ``{query: sql}`` over ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {q: normalize(con.sql(sql).df()) for q, sql in oracles.items()}
    finally:
        con.close()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` (normalised) equals ``want``; else a reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    if not got.equals(want):
        diff = (got != want).any(axis=1)
        return f"{int(diff.sum())} of {len(got)} rows differ"
    return None
