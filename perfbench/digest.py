"""The Python half of the result digest (see graftbench/Digest.scala).

A result's digest is its row count plus two wrapping 64-bit sums of each
row's MD5, so it does not depend on row order. A row is rendered with its
columns in name order, each value in a type-tagged text form; DuckDB's
Python values render here exactly as the engine's values render there.
"""
import datetime as dt
import decimal
import hashlib
import struct

MASK = (1 << 64) - 1
EPOCH = dt.datetime(1970, 1, 1)


def render(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if v != v:
            return "fNaN"
        return "f%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return "m" + format(v, "f")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, bytes):
        return "x" + v.hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, dt.date):
        return "d" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            entries = [render(k) + ":" + render(x) for k, x in zip(v["key"], v["value"])]
            return "<" + ",".join(sorted(entries)) + ">"
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    return "?" + str(v)


def of_rows(columns, rows):
    """Digest of rows (sequences aligned with `columns`)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n = a = b = 0
    for r in rows:
        h = hashlib.md5("\u0001".join(render(r[i]) for i in order).encode()).digest()
        n += 1
        a = (a + int.from_bytes(h[:8], "big")) & MASK
        b = (b + int.from_bytes(h[8:], "big")) & MASK
    return {"columns": ",".join(sorted(columns)), "rows": n, "h1": a, "h2": b}


def of_sql(con, sql):
    cur = con.execute(sql)
    return of_rows([d[0] for d in cur.description], cur.fetchall())


def same(engine, expected):
    """Engine digests carry the sums as signed longs."""
    return (engine.get("columns") == expected["columns"]
            and engine.get("rows") == expected["rows"]
            and engine.get("h1", 0) & MASK == expected["h1"]
            and engine.get("h2", 0) & MASK == expected["h2"])
