"""Output check: each operation's result against DuckDB running its oracle SQL.

For every operation the harness dumps the program's result as parquet and
the operation's `SparkEntry.oracleSql` text. DuckDB runs that SQL over the
same input tables, and the two results are compared the way
`scripts/oracle_check.py` does: columns sorted by name, rows sorted by all
columns, values exact, and the same dtype kind per column.

DuckDB's answers are cached per (input directory, SQL text) under
`<build>/oracle`; `rebuild=True` recomputes them.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(mine, want):
    """None when the results match, else the reason they do not."""
    mine, want = canon(mine), canon(want)
    if list(mine.columns) != list(want.columns):
        return f"columns {list(mine.columns)} != {list(want.columns)}"
    kinds = [(c, str(mine[c].dtype), str(want[c].dtype)) for c in mine.columns
             if mine[c].dtype.kind != want[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ {kinds}"
    if len(mine) != len(want):
        return f"rows {len(mine)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(mine, want, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[-1][:200]
    return None


def _connect(input_dir, work_dir, threads):
    con = duckdb.connect()
    con.sql(f"SET threads TO {int(threads)}")
    con.sql(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def check(input_dir, dump_dir, ops, cache_dir, threads, rebuild=False):
    """Map each op to None (match) or a failure reason."""
    sql = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
    os.makedirs(cache_dir, exist_ok=True)
    con = _connect(input_dir, cache_dir, threads)
    result = {}
    for op in ops:
        try:
            if op not in sql:
                raise ValueError("no oracle SQL")
            key = hashlib.sha256(sql[op].encode()).hexdigest()[:24]
            cached = os.path.join(cache_dir, f"{op}-{key}.pkl")
            if rebuild or not os.path.exists(cached):
                want = con.sql(sql[op]).df()
                want.to_pickle(cached + ".part")
                os.replace(cached + ".part", cached)
            want = pd.read_pickle(cached)
            files = sorted(glob.glob(os.path.join(dump_dir, op, "*.parquet")))
            if not files:
                raise ValueError("no output written")
            mine = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            result[op] = compare(mine, want)
        except Exception as e:  # a failed check fails the op, never the run
            result[op] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return result
