"""Output check: each saved Spark result against DuckDB running the query's
`SparkEntry.oracleSql` on the same generated tables. Rows and columns are
compared sorted, values exactly, as the repository's correctness gate does.
"""
import json
import math
import os
import re
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _canon(df):
    cols = sorted(df.columns)
    rows = [tuple(_norm(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def materialized(sql):
    """The same query with every non-recursive CTE marked MATERIALIZED.
    DuckDB otherwise inlines a CTE at each reference, and the dedup oracles
    reference their pair CTE from inside a recursive closure, so the pair
    join would be recomputed on every recursion step. Results are equal."""
    return re.sub(r"^(\s+\w+) AS \(", r"\1 AS MATERIALIZED (", sql, flags=re.M)


def check(data_dir, out_dir, names, threads, seconds):
    """Returns {query: None if it matches, else a one-line reason}. A check
    still running after `seconds` is interrupted and counts as failed."""
    con = duckdb.connect()
    timer = threading.Timer(seconds, con.interrupt)
    timer.start()
    try:
        return _check(con, data_dir, out_dir, names, threads)
    finally:
        timer.cancel()


def _check(con, data_dir, out_dir, names, threads):
    con.execute(f"SET temp_directory='{out_dir}/duckdb-tmp'")
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))
    verdict = {}
    for name in names:
        if name not in sql:
            verdict[name] = "no oracle"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            want = con.execute(materialized(sql[name])).fetchdf()
        except Exception as e:  # an unreadable output or oracle error is a failed check
            verdict[name] = f"error: {e}"
            continue
        gc, gr = _canon(got)
        wc, wr = _canon(want)
        if gc != wc:
            verdict[name] = f"columns {gc} != {wc}"
        elif len(gr) != len(wr):
            verdict[name] = f"rows {len(gr)} != {len(wr)}"
        elif gr != wr:
            verdict[name] = "values differ"
        elif not gr:
            verdict[name] = "empty result"
        else:
            verdict[name] = None
    return verdict
