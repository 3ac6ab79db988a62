"""Bitwise comparison of the JVM's results with DuckDB.

Each distinct op's rows (encoded by Cells.scala) are compared with what
DuckDB returns for its SQL over the same parquet files. The rules are
tools/check_oracle.py's: columns sorted by name, rows in result order,
floats on their IEEE-754 bits, integers by value, booleans apart from
integers. DuckDB's answer depends only on the SQL and the data, so it
is cached per SQL text in the work directory.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

import duckdb

_NAN = struct.unpack("<Q", struct.pack("<d", float("nan")))[0]
_EPOCH = datetime.datetime(1970, 1, 1)


def cell(v):
    """DuckDB's Python value → the encoding Cells.scala gives Spark's."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        bits = _NAN if math.isnan(v) else struct.unpack("<Q", struct.pack("<d", v))[0]
        return ["f", f"{bits:016x}"]
    if isinstance(v, decimal.Decimal):
        return ["dec", format(v.normalize(), "f")]
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ["ts", (v - _EPOCH) // datetime.timedelta(microseconds=1)]
    if isinstance(v, datetime.date):
        return ["date", v.isoformat()]
    if isinstance(v, (bytes, bytearray)):
        return ["b", bytes(v).hex()]
    if isinstance(v, dict):
        return ["s", [cell(x) for x in v.values()]]
    if isinstance(v, (list, tuple)):
        return ["a", [cell(x) for x in v]]
    return str(v)


class Oracle:
    def __init__(self, data_dir, cache_dir, threads):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.threads = threads
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute(f"SET threads = {self.threads}")
            for f in sorted(os.listdir(self.data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(self.data_dir, f).replace("'", "''")
                    self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        return self.con

    def answer(self, sql):
        path = os.path.join(self.cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        cur = self._connect().execute(sql)
        got = {"cols": [d[0] for d in cur.description],
               "rows": [[cell(v) for v in r] for r in cur.fetchall()]}
        with open(path + ".tmp", "w") as f:
            json.dump(got, f)
        os.replace(path + ".tmp", path)
        return got


def by_name(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [[r[i] for i in order] for r in rows]


def compare(op, oracle):
    """None when the op's rows equal DuckDB's, else why not."""
    want = oracle.answer(op["sql"])
    got_cols, got = by_name(op["cols"], op["rows"])
    want_cols, want_rows = by_name(want["cols"], want["rows"])
    if got_cols != want_cols:
        return f"columns spark={got_cols} duckdb={want_cols}"
    if len(got) != len(want_rows):
        return f"rows spark={len(got)} duckdb={len(want_rows)}"
    for i, (a, b) in enumerate(zip(got, want_rows)):
        for c, x, y in zip(got_cols, a, b):
            if x != y:
                return f"col {c} row {i}: spark={x!r} duckdb={y!r}"
    return None
