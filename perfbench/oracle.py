"""Checks the query workloads' reference-pass results against the
engine's DuckDB oracle SQL on the same seeded tables.

Results and oracle rows are compared the way the engine's correctness
gate compares them: columns by name, values stringified, rows sorted.
"""
import glob
import json

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.astype(str)
    return s.sort_values(by=list(s.columns), ignore_index=True)


def check(tables, verify_dir):
    """Returns one line per query whose result differs from its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    oracle = json.loads((verify_dir / "oracle_sql.json").read_text())
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            want = _canon(con.sql(sql).df())
            files = sorted(glob.glob(f"{verify_dir}/{name}/*.parquet"))
            got = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            if got.shape != want.shape:
                problems.append(f"{name}: shape {got.shape}, oracle {want.shape}")
            elif not (got.values == want.values).all():
                r, c = next(zip(*(got.values != want.values).nonzero()))
                problems.append(f"{name}: row {r} column {got.columns[c]}: "
                                f"{got.iat[r, c]!r}, oracle {want.iat[r, c]!r}")
        except Exception as e:  # noqa: BLE001 - every query is reported
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
    return problems
