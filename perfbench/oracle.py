#!/usr/bin/env python3
"""Expected result digests from the DuckDB oracle.

Runs each query's oracle SQL (dumped from `SparkEntry.oracleSql` by
`perfbench.DumpOracle`) on the benchmark's parquet tables and renders
every row exactly as `perfbench/src/perfbench/Digest.scala` renders a
Spark row, so the digests agree whenever the results agree.

    python3 perfbench/oracle.py <data_dir> <oracle_sql.json> <out.tsv> [names]

`names` is a comma-separated list restricting the queries evaluated.

Writes one line per query: name, status (ok | no-oracle | oracle-error),
sorted column names, row count, digest (signed 64-bit wrapping sum).
"""
import datetime
import decimal
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

MASK = (1 << 64) - 1
SIG = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
INTEGRAL_LIMIT = 1e15


def row_hash(s):
    h = 0xcbf29ce484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001b3) & MASK
    h = ((h ^ (h >> 30)) * 0xbf58476d1ce4e5b9) & MASK
    h = ((h ^ (h >> 27)) * 0x94d049bb133111eb) & MASK
    return h ^ (h >> 31)


def dec(d):
    s = d.normalize()
    if s.as_tuple().exponent >= 0 and abs(s) < INTEGRAL_LIMIT:
        return str(int(s))
    r = SIG.plus(d).normalize()
    return "0" if r == 0 else format(r, "f")


def num(v):
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Inf" if v > 0 else "-Inf"
    if v == math.floor(v) and abs(v) < INTEGRAL_LIMIT:
        return str(int(v))
    return dec(decimal.Decimal(v))


def string(s):
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def value(v, is_map=False):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return dec(v)
    if isinstance(v, str):
        return string(v)
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo is not None else EPOCH
        return str((v - base) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(e) for e in v) + "]"
    if isinstance(v, dict):
        if is_map:
            return "M{" + ",".join(sorted(value(k) + ":" + value(x)
                                          for k, x in v.items())) + "}"
        return "{" + ",".join(value(v[k]) for k in sorted(v)) + "}"
    return string(str(v))


def digest(cursor):
    names = [d[0] for d in cursor.description]
    maps = [str(d[1]).upper().startswith("MAP") for d in cursor.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows, total = 0, 0
    for r in cursor.fetchall():
        s = "|".join(value(r[i], maps[i]) for i in order)
        total = (total + row_hash(s)) & MASK
        rows += 1
    signed = total - (1 << 64) if total >> 63 else total
    return ",".join(sorted(names)), rows, signed


def main(data_dir, sql_json, out_path, names=None):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    oracle = json.load(open(sql_json))
    if names:
        wanted = set(names.split(","))
        oracle = {k: v for k, v in oracle.items() if k in wanted}
    lines = []
    for name in sorted(oracle):
        sql = oracle[name]
        if sql is None:
            lines.append(f"{name}\tno-oracle\t\t0\t0")
            continue
        try:
            cols, rows, d = digest(con.execute(sql))
            lines.append(f"{name}\tok\t{cols}\t{rows}\t{d}")
        except Exception as e:  # a broken oracle is reported, not fatal
            msg = " ".join(str(e).split())[:200]
            lines.append(f"{name}\toracle-error\t{msg}\t0\t0")
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, out_path)


if __name__ == "__main__":
    main(*sys.argv[1:5])
