"""Engine-neutral digest of a query result, shared by the reference maker
and the run-time check so both sides hash with the same code.

Columns are taken in name order and rows in query order. Every value is
written in a canonical form: a double that holds an integer is written as
that integer (so BIGINT and DOUBLE twins of one value agree, as the repo's
oracle check lets them), any other double as the hex of its IEEE-754 bits,
a DECIMAL through its nearest double, timestamps in UTC, and a DATE as the
timestamp of its midnight (DuckDB's `date_trunc('day', ts)` is a DATE where
Spark's is a TIMESTAMP).
"""
import datetime
import decimal
import hashlib
import json
import math
import struct


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"n{v}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"n{int(v)}"
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        if v.is_integer() and abs(v) < 2 ** 53:
            return f"n{int(v)}"
        return "f" + struct.pack(">d", v).hex()
    if isinstance(v, str):
        return "s" + json.dumps(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, datetime.date):
        return "t" + datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, datetime.time):
        return "t" + v.isoformat()
    if isinstance(v, datetime.timedelta):
        return f"i{v // datetime.timedelta(microseconds=1)}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((canon(k), canon(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    return "o" + json.dumps(str(v))


def digest(columns, rows):
    """`<row count>:<sha256>` over the canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for r in rows:
        h.update(("|".join(canon(r[i]) for i in order) + "\n").encode())
    return f"{len(rows)}:{h.hexdigest()}"


def digest_sql(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def connect(threads=2):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={int(threads)}")
    return con


def digest_parquet_dir(con, path):
    return digest_sql(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
