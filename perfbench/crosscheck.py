#!/usr/bin/env python3
"""Cross-check the pinned query digests against the DuckDB oracle.

Usage, from the root of a checkout, after `python3 perfbench/run.py --pin`:

    python3 perfbench/crosscheck.py

For every pinned query with an oracle in SparkEntry.oracleSql (written to
perfbench/pins/oracle_sql.json by --pin), DuckDB runs the oracle over the
benchmark's parquet tables and this script computes the same digest the
harness does (Digest.scala): row count plus the sum mod 2^64 of one MD5-
derived 64-bit hash per row, over values canonicalized with columns in name
order and numbers rounded half-even to 9 decimal places from their exact
binary value. It prints one line per query and names every query it could
not cross-check. Needs the duckdb Python package.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import re
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NINE = decimal.Decimal("1e-9")


def num(x):
    r = x.quantize(NINE, rounding=decimal.ROUND_HALF_EVEN).normalize()
    return "0" if r == 0 else format(r, "f")


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return num(decimal.Decimal(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return num(v)
    if isinstance(v, str):
        return f"S{len(v.encode('utf-16-le')) // 2}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return f"U{(delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return "B" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return f"?{v}"


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "|".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
    return f"{len(rows)}:{total % (1 << 64):016x}"


def main():
    with open(os.path.join(HERE, "pins", "sf0.01.json")) as f:
        pins = json.load(f)
    with open(os.path.join(HERE, "pins", "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    resources = os.path.join(ROOT, "src", "main", "resources") + "/"
    ok, bad, unchecked = [], [], []
    for q in sorted(pins):
        if q not in oracle:
            unchecked.append((q, "no oracle SQL"))
            continue
        sql = re.sub(r"'(?:[^']*/)?src/main/resources/", "'" + resources, oracle[q])
        try:
            rel = con.sql(sql)
            got = digest(rel.columns, rel.fetchall())
        except Exception as ex:  # an oracle DuckDB cannot run here
            unchecked.append((q, f"oracle error: {str(ex).splitlines()[0]}"))
            continue
        (ok if got == pins[q] else bad).append((q, got))
        print(f"{'ok  ' if got == pins[q] else 'DIFF'} {q}: pin {pins[q]} duckdb {got}")
    for q, why in unchecked:
        print(f"SKIP {q}: {why}")
    print(f"{len(ok)}/{len(pins)} pins match the DuckDB oracle, "
          f"{len(bad)} differ, {len(unchecked)} not cross-checked")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
