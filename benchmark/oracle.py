"""Check Spark outputs against their DuckDB oracle SQL.

The rules of the project's oracle crosscheck: columns compared by
sorted name, rows sorted, values exact; integer widths may differ but
the pandas dtype kind (int, float, string, datetime, bool) must match.
"""
import glob
import os

import duckdb


def connect(data_dir, threads, spill_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET threads={int(threads)}")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def compare(con, sql, out_dir):
    """None when the Spark output at `out_dir` equals the oracle's rows,
    else a one-line reason."""
    want = con.sql(sql).df()
    got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        return f"columns want={list(want.columns)} got={list(got.columns)}"
    kinds = [c for c in want.columns
             if want[c].dtype.kind != got[c].dtype.kind
             and not (want[c].dtype.kind in "iu" and got[c].dtype.kind in "iu")]
    if kinds:
        return "dtype " + "; ".join(
            f"{c}: want={want[c].dtype} got={got[c].dtype}" for c in kinds[:4])
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    ws = want.sort_values(by=list(want.columns), ignore_index=True)
    gs = got.sort_values(by=list(got.columns), ignore_index=True)
    for c in ws.columns:
        a, b = ws[c], gs[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            neq = ~((a == b) | (a.isna() & b.isna()))
        else:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = neq.idxmax()
            return f"{c}[{i}]: want={a[i]!r} got={b[i]!r} (n={int(neq.sum())})"
    return None
