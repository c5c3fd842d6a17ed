"""Expected-output digests from the repository's DuckDB twins.

For each query the benchmark runs, the matching `SparkEntry.oracleSql`
statement (dumped at build time) runs in DuckDB over the seeded tables and
its rows are reduced to the digest `graft.perfbench.Canon` computes on the
Spark side. This runs once per seed, before the program starts, so it is
neither timed nor part of set-up.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import struct

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents".split()
EPOCH = dt.datetime(1970, 1, 1)
UTC_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _plain(d):
    if d == 0:
        return "0"
    return format(d.normalize(), "f")


def cell(v):
    """Twin of Canon.cell in Canon.scala."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:" + ("true" if v else "false")
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        return "d:" + _plain(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, dt.datetime):
        delta = v - (UTC_EPOCH if v.tzinfo else EPOCH)
        return "t:" + str((delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds)
    if isinstance(v, dt.date):
        return "D:" + str((v - dt.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "r:(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "a:[" + ",".join(cell(x) for x in v) + "]"
    return "?:" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(_sha("\u001f".join(cell(r[i]) for i in order)) for r in rows)
    head = "\u001f".join(columns[i] for i in order)
    return {"rows": len(rows), "digest": _sha(head + "\n" + "\n".join(hashes))}


def expected(tables_dir, queries, oracle_sql):
    """{query: {"rows": n, "digest": hex}} for `queries` over `tables_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q in queries:
        cur = con.execute(oracle_sql[q])
        cols = [d[0] for d in cur.description]
        out[q] = digest(cols, cur.fetchall())
    con.close()
    return out


def expected_cached(path, tables_dir, queries, oracle_sql_path):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    with open(oracle_sql_path) as f:
        got = expected(tables_dir, queries, json.load(f))
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return got
