"""Output checks against DuckDB.

Results from the JVM arrive in the canonical encoding of `Json.scala`
(timestamps as epoch microseconds, dates as epoch days, structs as
lists). DuckDB results are brought to the same encoding here, and the two
are compared by column name, row by row in emitted order, falling back to
a row sort, with floats equal to a relative 1e-9.
"""
import datetime
import decimal
import json
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=None) - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def _norm_spark(v):
    if v == "NaN":
        return None
    if isinstance(v, list):
        return [_norm_spark(x) for x in v]
    return v


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def db():
    """A DuckDB connection kept small: the benchmark shares its machine."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    return con


def connect(data_dir):
    """`db()` with a view per query table of `data_dir`."""
    con = db()
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        if os.path.exists(p) or "*" in p:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def expected(con, sql, cache_file):
    """Oracle result {columns, rows}, cached per input."""
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            return json.load(f)
    rel = con.sql(sql)
    res = {"columns": list(rel.columns),
           "rows": [canon(list(r)) for r in rel.fetchall()]}
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    tmp = f"{cache_file}.tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, cache_file)
    return res


def compare(mine, theirs):
    """None when equal, else a one-line reason."""
    mc, tc = sorted(mine["columns"]), sorted(theirs["columns"])
    if mc != tc:
        return f"columns {mine['columns']} != oracle {theirs['columns']}"
    if len(mine["rows"]) != len(theirs["rows"]):
        return f"{len(mine['rows'])} rows != oracle {len(theirs['rows'])}"
    mi = [mine["columns"].index(c) for c in mc]
    ti = [theirs["columns"].index(c) for c in mc]
    a = [[_norm_spark(r[i]) for i in mi] for r in mine["rows"]]
    b = [[r[i] for i in ti] for r in theirs["rows"]]
    if same(a, b):
        return None
    key = lambda r: json.dumps(r, sort_keys=True, default=str)
    if same(sorted(a, key=key), sorted(b, key=key)):
        return None
    for x, y in zip(a, b):
        if not same(x, y):
            return f"first differing row {str(x)[:160]} != oracle {str(y)[:160]}"
    return "rows differ"


def table_refs(sql):
    """Tables an oracle query reads."""
    return sorted({t for t in TABLES if re.search(rf"\b{t}\b", sql)})
