"""Answer check of the benchmark, against graft's DuckDB oracle.

Each registered query has an oracle SQL text (`SparkEntry.oracleSql`).
`expected` replays it in DuckDB over the generated tables, and `answer`
reads a Spark answer that the harness wrote as parquet. Both go through
DuckDB, as in `tools/check.py`, and are reduced to the same
order-independent fingerprint:

    "<sorted column names>|<row count>|<hex sum mod 2^64 of row hashes>"

A row hash is the first 8 bytes (big-endian) of the MD5 of
`name=repr(value)` for each column in name order, joined by U+001F
(NaN renders as `NaN`). As in check.py, a DECIMAL column on either side
is an error: the answer cannot be compared across engines.
"""
import hashlib
import math
import os

import duckdb

TABLES = ["documents", "embeddings"]


def norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)


def fingerprint(rel):
    if any("DECIMAL" in str(t).upper() for t in rel.types):
        return "<DECIMAL column>"
    columns = list(rel.columns)
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = n = 0
    for row in rel.fetchall():
        text = "\x1f".join(f"{columns[i]}={norm(row[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
        n += 1
    return "%s|%d|%x" % (",".join(columns[i] for i in order), n, total % (1 << 64))


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def expected(tables_dir, sql_by_query):
    """Fingerprint of each query's oracle answer on the tables in `tables_dir`."""
    con = connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    out = {}
    for name, sql in sql_by_query.items():
        try:
            out[name] = fingerprint(con.sql(sql))
        except Exception as e:  # an oracle that fails is an answer no run can match
            out[name] = f"<oracle error: {str(e)[:200]}>"
    return out


def answer(con, path):
    """Fingerprint of a Spark answer written as a parquet dir."""
    return fingerprint(con.sql(f"SELECT * FROM '{path}/*.parquet'"))
