"""Reference results computed outside the code under test (DuckDB over the
generated inputs, or plain Python), and the frame comparison every check
uses."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

REL_TOL = 1e-9  # floating sums differ in the last digits with summation order
ABS_TOL = 1e-6


def duck(sql: str, **tables: list[str]) -> pd.DataFrame:
    """Run ``sql`` on a fresh DuckDB connection, each keyword argument a
    list of parquet files exposed as a view of that name."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, files in tables.items():
            paths = ", ".join(f"'{p}'" for p in files)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{paths}])")
        return con.execute(sql).df()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows (floats within tolerance), else
    a one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind in "fiub" and y.dtype.kind in "fiub":
            xf, yf = x.to_numpy(dtype=float), y.to_numpy(dtype=float)
            bad = ~(np.isclose(xf, yf, rtol=REL_TOL, atol=ABS_TOL) | (np.isnan(xf) & np.isnan(yf)))
        else:
            bad = ~((x == y) | (x.isna() & y.isna())).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c}: {int(bad.sum())} values differ, e.g. {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None


def min_label_components(ids, pairs) -> dict[int, int]:
    """Connected components of the pair graph, each node labelled with the
    smallest id in its component (union-find)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}
