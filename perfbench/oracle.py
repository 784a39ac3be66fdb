"""DuckDB oracle check of the results a benchmark run wrote.

The JVM writes each checked result as parquet together with the query's
oracle SQL (the program's `SparkEntry.oracleSql`). This module runs that SQL
with DuckDB over the run's own tier and compares row multisets, with the
same canonical value form as tools/oracle_check.py.
"""
import glob
import math
import os

import duckdb


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def rows_of(df):
    cols = sorted(df.columns)
    return cols, sorted(tuple(canon(v) for v in r)
                        for r in df[cols].itertuples(index=False))


def check(tier_dir, results):
    """results: {query: {"path": dir or None, "sql": str or None}}.
    Returns {query: reason} for every query that failed."""
    bad = {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for table in sorted(os.listdir(tier_dir)):
        name = table.split(".")[0]
        files = glob.glob(os.path.join(tier_dir, table, "*.parquet"))
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({files!r})")
    for q, r in sorted(results.items()):
        if not r.get("sql"):
            bad[q] = "no oracle SQL for this query"
            continue
        if not r.get("path"):
            bad[q] = "no result was written"
            continue
        try:
            want = con.execute(r["sql"]).fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad[q] = f"oracle SQL error: {e}"
            continue
        files = glob.glob(os.path.join(r["path"], "*.parquet"))
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        except Exception as e:  # noqa: BLE001
            bad[q] = f"result unreadable: {e}"
            continue
        wc, wr = rows_of(want)
        gc, gr = rows_of(got)
        if wc != gc:
            bad[q] = f"columns differ: oracle={wc} result={gc}"
        elif wr != gr:
            diff = [(w, g) for w, g in zip(wr, gr) if w != g][:1]
            bad[q] = (f"rows differ (oracle {len(wr)}, result {len(gr)}); "
                      f"first: oracle={diff[0][0] if diff else None} "
                      f"result={diff[0][1] if diff else None}")
    con.close()
    return bad
