"""Checks the harness's results against each key's DuckDB oracle SQL.

The comparison is `tools/selfcheck.py`'s exact-value rule, using its own
row normalisation: same columns sorted by name, same Arrow types, same
rows in the same order.
"""
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import selfcheck  # noqa: E402


def connect(data_dir):
    """A DuckDB connection with one view per table in `data_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in selfcheck.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(con, sql, result_dir):
    """None when the Spark result in `result_dir` equals the oracle's,
    else a one-line reason."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no spark output"
    got = pq.read_table(files[0] if len(files) == 1 else files)
    try:
        exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # the oracle itself failing is a failed check
        return f"oracle error: {e}"
    gc, gr = selfcheck.rows_of(got)
    ec, er = selfcheck.rows_of(exp)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    gt = {f.name: str(f.type) for f in got.schema}
    et = {f.name: str(f.type) for f in exp.schema}
    tdiff = {c: (gt[c], et[c]) for c in gt if gt[c] != et.get(c, gt[c])}
    if tdiff:
        return f"dtype mismatch {tdiff}"
    if len(gr) != len(er):
        return f"rows {len(gr)} vs {len(er)}"
    bad = sum(1 for a, b in zip(gr, er) if a != b)
    if bad:
        return f"{bad}/{len(gr)} rows differ"
    return None
