"""Checks query answers against their oracle SQL run in DuckDB, the way the
repository's correctness gate (scripts/selfcheck.py) compares them."""
import json
import os
import sys


SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def failures(verify_dir, data_dir):
    """Compare each query result the driver wrote under `verify_dir` with
    its oracle SQL run in DuckDB over the parquet tables in `data_dir`.
    Returns one message per failing query."""
    import duckdb
    import pandas as pd

    sys.path.insert(0, SCRIPTS)
    from selfcheck import canon

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = []
    for name in sorted(os.listdir(verify_dir)):
        d = os.path.join(verify_dir, name)
        if not os.path.isdir(d):
            continue
        got = pd.read_parquet(d)
        if name not in oracle:
            if len(got) == 0:
                out.append(f"{name}: no oracle and no rows")
            continue
        g, e = canon(got), canon(con.execute(oracle[name]).fetchdf())
        if list(g.columns) != list(e.columns):
            out.append(f"{name}: columns {list(g.columns)} vs {list(e.columns)}")
        elif len(g) != len(e):
            out.append(f"{name}: {len(g)} rows vs {len(e)}")
        else:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False,
                                              rtol=1e-6, atol=1e-6)
            except AssertionError as ex:
                out.append(f"{name}: {str(ex).splitlines()[0]}")
    return out
