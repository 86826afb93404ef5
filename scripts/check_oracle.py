"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row
count, column names, and an order-insensitive value comparison
(rows sorted, floats rounded).

Usage: python scripts/check_oracle.py [--distributed] [sf_dir] [query ...]

--distributed sets utils.MAX_DRIVER_ROWS = 0 and utils.MAX_DRIVER_EDGES = 0
before any query is built, so every dual-path operator and the
connected-components loop take their distributed paths (the parity run).
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

DISTRIBUTED = "--distributed" in sys.argv
if DISTRIBUTED:
    sys.argv.remove("--distributed")
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(pdf: pd.DataFrame, ndigits: int = 6) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64").round(ndigits)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def main():
    import __spark_entry__ as E
    from dask_ml_spark import get_spark, utils

    if DISTRIBUTED:
        utils.MAX_DRIVER_ROWS = 0
        utils.MAX_DRIVER_EDGES = 0

    spark = get_spark(app_name="oracle-check", shuffle_partitions=16,
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            status = "rows-only"
            print(f"OK   {name}: {len(got)} rows ({status}) [{dt:.1f}s]")
            n_pass += 1
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rowcount spark={len(got)} duckdb={len(want)}")
            n_fail += 1
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns spark={sorted(got.columns)} duckdb={sorted(want.columns)}")
            n_fail += 1
            continue
        g, w = canon(got), canon(want)
        ok = True
        for c in g.columns:
            if pd.api.types.is_float_dtype(w[c]):
                # Driver-grid check: canon() already rounded to 6 decimal
                # digits ABSOLUTE; the driver hashes those rounded values,
                # so we require bit-equality of the rounded grid — the
                # old rtol=1e-6 allclose admitted ~1e3 absolute drift on
                # 1e9-scale revenues and missed the r9 salted-join flap.
                gv = g[c].to_numpy(dtype=float)
                wv = w[c].to_numpy(dtype=float)
                nan_ok = np.isnan(gv) & np.isnan(wv)
                if not bool(np.all((gv == wv) | nan_ok)):
                    bad = np.abs(gv - wv)
                    print(f"FAIL {name}: col {c} driver-grid mismatch, "
                          f"max abs diff {np.nanmax(bad)}")
                    ok = False
                    break
            else:
                if not (g[c].astype(str).to_numpy() == w[c].astype(str).to_numpy()).all():
                    mism = (g[c].astype(str) != w[c].astype(str)).sum()
                    print(f"FAIL {name}: col {c} {mism} value mismatches "
                          f"(e.g. {g[c].iloc[0]!r} vs {w[c].iloc[0]!r})")
                    ok = False
                    break
        if ok:
            print(f"OK   {name}: {len(got)} rows hash-match [{dt:.1f}s]")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
