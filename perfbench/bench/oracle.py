"""Registry correctness: each query's result against DuckDB running the
program's own oracle SQL (`SparkEntry.oracleSql`) over the same parquet,
canonicalized like tools/check_oracle.py (columns by name, rows sorted,
floats to 12 significant digits).

The DuckDB answers are cached as digests per (tables, query, SQL text).
Recompute them with:  python3 perfbench/bench/oracle.py <cache-dir>
(which empties the cache; the next run refills it).
"""
import hashlib
import json
import math
import os
import shutil
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def connect(data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def answer(con, sql):
    """(lower-cased sorted column names, row count, digest of sorted canonical rows)."""
    cur = con.sql(sql)
    cols = list(cur.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    return {"cols": [cols[i].lower() for i in order], "rows": len(rows), "sha": h}


def expected(cache_dir, data_dir, sql_by_query):
    """DuckDB answers for every query, computed once per (tables, SQL)."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for q, sql in sorted(sql_by_query.items()):
        key = hashlib.sha256((data_dir + "\0" + sql).encode()).hexdigest()[:20]
        path = os.path.join(cache_dir, f"{q}-{key}.json")
        if not os.path.exists(path):
            con = con or connect(data_dir)
            with open(path + ".tmp", "w") as f:
                json.dump(answer(con, sql), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            out[q] = json.load(f)
    return out


def check(data_dir, results_dir, want):
    """Queries whose written result differs from the oracle's, with the reason."""
    con = duckdb.connect()
    bad = {}
    for q, w in sorted(want.items()):
        d = os.path.join(results_dir, q)
        if not os.path.isdir(d):
            bad[q] = "no result written"
            continue
        try:
            got = answer(con, f"SELECT * FROM '{d}/*.parquet'")
        except Exception as e:  # noqa: BLE001 - an unreadable result is a failure
            bad[q] = f"unreadable result: {e}"
            continue
        if got != w:
            bad[q] = f"got {got['rows']} rows {got['cols']}, oracle {w['rows']} rows {w['cols']}"
    return bad


if __name__ == "__main__":
    shutil.rmtree(sys.argv[1], ignore_errors=True)
    print(f"emptied {sys.argv[1]}; the next run recomputes the DuckDB answers")
