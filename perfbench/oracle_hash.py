#!/usr/bin/env python3
"""Expected result hashes for the batch_queries workload.

Runs each query's oracle SQL through DuckDB over the same parquet tables the
engine reads, and hashes the result with the rendering `perfbench.Canon`
uses on the engine's side: columns in name order, rows as a sorted multiset,
doubles by their IEEE-754 bits.

    python3 oracle_hash.py <sf dir> <oracle_sql.json> <out.json>
"""
import datetime
import decimal
import hashlib
import json
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def cell(v, out):
    if v is None:
        out.append("n")
    elif isinstance(v, bool):
        out.append("b1" if v else "b0")
    elif isinstance(v, int):
        out.append("i%d" % v)
    elif isinstance(v, float):
        out.append("dnan" if v != v else "d" + struct.pack(">d", v).hex())
    elif isinstance(v, decimal.Decimal):
        out.append("m" + format(v.normalize(), "f"))
    elif isinstance(v, str):
        out.append("s%d:%s" % (len(v.encode()), v))
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        out.append("t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds))
    elif isinstance(v, datetime.date):
        out.append("D%d" % (v - datetime.date(1970, 1, 1)).days)
    elif isinstance(v, (bytes, bytearray)):
        out.append("x" + bytes(v).hex())
    elif isinstance(v, dict):
        out.append("{")
        for x in v.values():
            cell(x, out)
        out.append("}")
    elif isinstance(v, (list, tuple)):
        out.append("[")
        for x in v:
            cell(x, out)
        out.append("]")
    else:
        out.append("?" + str(v))


def result_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    rendered = []
    for r in rows:
        out = []
        for i in order:
            cell(r[i], out)
        rendered.append("".join(out))
    # the engine side sorts Java strings, i.e. by UTF-16 code units
    rendered.sort(key=lambda s: s.encode("utf-16-be"))
    h = hashlib.sha256("\0".join(names[i] for i in order).encode())
    for s in rendered:
        h.update(b"\n")
        h.update(s.encode())
    return h.hexdigest()


def main():
    sf_dir, sql_path, out_path = sys.argv[1:4]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    hashes = {}
    for name, sql in json.load(open(sql_path)).items():
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        hashes[name] = result_hash(names, cur.fetchall())
    with open(out_path, "w") as f:
        json.dump(hashes, f, indent=1)


if __name__ == "__main__":
    main()
