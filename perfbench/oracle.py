"""DuckDB oracle check of the harness's correctness dumps.

Canonicalization and comparison follow scripts/check_correctness.py: sort
columns by name, sort rows, then compare column names, row counts, dtypes
and values (NaN equals NaN). Queries without an oracle entry must return at
least one row.
"""
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _source(path: str) -> str:
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list:
    """Problems found comparing two canonical frames (empty = equal)."""
    if list(got.columns) != list(want.columns):
        return [f"columns got={list(got.columns)} want={list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows got={len(got)} want={len(want)}"]
    problems = []
    for c in got.columns:
        if str(got[c].dtype) != str(want[c].dtype):
            problems.append(f"dtype[{c}] got={got[c].dtype} want={want[c].dtype}")
        eq = (got[c] == want[c]) | (got[c].isna() & want[c].isna())
        if not eq.all():
            i = int((~eq).idxmax())
            problems.append(f"value[{c}] row {i}: got={got[c][i]!r} want={want[c][i]!r}")
    return problems


def check(data_dir: str, dump_dir: str, queries, oracles: dict, dump_errors: dict,
          temp_dir: str):
    """Check each query's dump. Returns ({query: problem or None},
    {query: result rows}). DuckDB runs with bounded memory, threads and
    spill space, all spilling under temp_dir."""
    con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB",
                                 "temp_directory": temp_dir,
                                 "max_temp_directory_size": "2GB"})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{_source(f'{data_dir}/{t}.parquet')}'")
    verdicts, rows = {}, {}
    for q in queries:
        if q in dump_errors:
            verdicts[q] = "exception: " + dump_errors[q][:200]
            continue
        try:
            got = canon(con.sql(f"SELECT * FROM '{dump_dir}/{q}/*.parquet'").df())
            rows[q] = len(got)
            if q in oracles:
                problems = compare(got, canon(con.sql(oracles[q]).df()))
                verdicts[q] = "; ".join(problems[:3]) or None
            else:
                verdicts[q] = None if len(got) >= 1 else "no oracle and no rows"
        except Exception as e:  # a broken dump or oracle is a failed check
            verdicts[q] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return verdicts, rows
