"""Comparison of query-board outputs with their DuckDB oracles.

Each board query's Spark rows are written as parquet under
`<out_dir>/<name>/`; `<out_dir>/oracle_sql.json` holds the query's oracle
SQL, which DuckDB runs over the same fixture tables. A query passes when
both sides have the same column names and the same digest. The cell
normalisation and the row- and column-order-insensitive digest are those
of the repository's oracle check, `tools/check_oracle.py`.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import TABLES, canon, h  # noqa: E402


def digest(df):
    """Row count and digest of a pandas frame, insensitive to row and column order."""
    return len(df), h(canon(df))


def check(fixture_dir, out_dir):
    """Return {query: reason} for every query whose output does not match."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(fixture_dir, t + '.parquet')}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name in sorted(d for d in os.listdir(out_dir)
                       if os.path.isdir(os.path.join(out_dir, d))):
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{os.path.join(out_dir, name)}/*.parquet')").df()
        try:
            want = con.sql(oracle[name]).df()
        except duckdb.Error as e:
            bad[name] = f"oracle error: {str(e)[:200]}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            continue
        g, w = digest(got), digest(want)
        if g != w:
            bad[name] = f"rows {g[0]} vs oracle {w[0]}, digest mismatch"
    return bad
