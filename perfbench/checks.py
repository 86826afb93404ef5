"""Output checks, run outside the timed region.

A query with an entry in `oracle_sql()` must match DuckDB on the same
tables under the canon and rounding rule of `scripts/check_oracle.py`:
equal row counts and column names, rows sorted, floats rounded to six
decimals and then compared exactly. Any other query must return a
non-empty result that is the same, under that rule, on every pass.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np
import pandas as pd


def load_canon(root: str):
    """`canon()` from the repository's oracle script, so the benchmark and
    the correctness gate share one rounding rule."""
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)      # the script puts its own repository path first
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module.canon


def mismatch(got: pd.DataFrame, want: pd.DataFrame, canon) -> str | None:
    """Why two results differ under the oracle rule, or None if they agree."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = canon(got), canon(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(w[c]):
            gv = g[c].to_numpy(dtype=float)
            wv = w[c].to_numpy(dtype=float)
            if not np.all((gv == wv) | (np.isnan(gv) & np.isnan(wv))):
                return f"column {c}: max abs diff {np.nanmax(np.abs(gv - wv))}"
        elif not (g[c].astype(str).to_numpy() == w[c].astype(str).to_numpy()).all():
            return f"column {c}: values differ"
    return None


class OutputChecker:
    """Checks each collected result against DuckDB or against the same
    query's result from the first check pass."""

    def __init__(self, root: str, data_dir: str, tables: tuple[str, ...],
                 oracles: dict[str, str]):
        self._canon = load_canon(root)
        self._oracles = oracles
        self._data_dir = data_dir
        self._tables = tables
        self._con = None
        self._want: dict[str, pd.DataFrame] = {}
        self._first: dict[str, pd.DataFrame] = {}

    def _duckdb(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self._tables:
                path = os.path.join(self._data_dir, f"{t}.parquet")
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        """None if `got` is a correct result of query `name`, else why not."""
        if name in self._oracles:
            if name not in self._want:
                self._want[name] = self._duckdb().sql(self._oracles[name]).df()
            return mismatch(got, self._want[name], self._canon)
        if got.empty:
            return "empty result"
        if name not in self._first:
            self._first[name] = got
            return None
        why = mismatch(got, self._first[name], self._canon)
        return None if why is None else f"differs from its first pass: {why}"

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
