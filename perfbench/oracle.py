"""Order-insensitive result digests and the DuckDB oracle.

A digest is `rows/sum/columns`: the row count, the sum modulo 2**64 of the
first 8 bytes of each row's MD5, and the lower-cased column names in sorted
order.  A row is hashed as its cells, in that column order, rendered
canonically and joined by U+0001.  `Digest.scala` renders Spark rows the
same way; the two must agree cell for cell:

- NULL is U+0000; booleans are `true`/`false`; strings are themselves;
- integers, and floats or decimals holding an integer below 2**53, are
  decimal integers; other floats are `d` + the hex of their IEEE-754 bits;
  NaN and infinities are `nan`, `inf`, `-inf`;
- dates are ISO `yyyy-mm-dd`; timestamps are UTC epoch microseconds;
- lists are `[a,b]`, structs `{a,b}`, binary is hex.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import struct

import duckdb

_EPOCH = dt.datetime(1970, 1, 1)


def _num(x):
    if math.isnan(x):
        return "nan"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == math.floor(x) and abs(x) < 2.0 ** 53:
        return str(int(x))
    bits = struct.unpack("<Q", struct.pack("<d", x))[0]
    return "d" + format(bits, "x")


def cell(v):
    if v is None:
        return "\x00"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        if v.is_finite() and v == v.to_integral_value():
            return str(int(v))
        return _num(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    total = 0
    n = 0
    for r in rows:
        line = "\x01".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    cols = ",".join(columns[i].lower() for i in order)
    return f"{n}/{total % (1 << 64):x}/{cols}"


def oracle_digests(oracle_sql, queries, sf_dir, tables, cache_path):
    """Digest each query's oracle result over the parquet tables in sf_dir.
    Results are cached in cache_path, keyed by query name and oracle SQL."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    todo = [q for q in dict.fromkeys(queries)
            if q not in cache or cache[q]["sql"] != oracle_sql[q]]
    if todo:
        con = duckdb.connect()
        con.execute("SET threads = 4")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for q in todo:
            cur = con.execute(oracle_sql[q])
            cols = [d[0] for d in cur.description]
            cache[q] = {"sql": oracle_sql[q], "digest": digest(cols, cur.fetchall())}
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return {q: cache[q]["digest"] for q in queries}
