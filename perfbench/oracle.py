"""Compare query outputs against their DuckDB oracle SQL.

The comparison rule is the engine's correctness gate: columns sorted by
name, rows sorted, every value compared as its string form.
"""
import glob
import os

import duckdb
import pandas as pd


def connect(data_dir):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return list(df.columns), [tuple(str(v) for v in r)
                              for r in df.itertuples(index=False)]


def compare(con, out_dir, sql, rows=-1):
    """None when the parquet output under `out_dir` equals the oracle's
    answer (or, with no oracle, has `rows` rows, or any rows when `rows`
    is negative), otherwise a one-line reason."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "no output files"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if sql is None:
        if rows >= 0:
            return None if len(got) == rows else f"{len(got)} rows, expected {rows}"
        return None if len(got) else "empty output and no oracle"
    try:
        want = con.execute(sql).df()
    except Exception as e:  # the oracle itself failing is a failed check
        return f"oracle error: {e}"
    gcols, grows = _canon(got)
    wcols, wrows = _canon(want)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows, oracle has {len(wrows)}"
    for g, w in zip(grows, wrows):
        if g != w:
            return f"value mismatch, e.g. {g} != {w}"
    return None
