#!/usr/bin/env python3
"""Establish perfbench/expected.json: the DuckDB oracle's row count and
fingerprint for each curation query, on the replica of the fixed corpus
that the curation workload measures.

Usage (from the root of a checkout):
    python3 perfbench/oracle.py

The SQL is graft's own oracle (SparkEntry.oracleSql), dumped by the
benchmark program; the fingerprint is the one Canon.scala computes over
Spark's rows: columns sorted by name, values in canonical text, the sum of
each row's MD5 prefix. Run it again only when the inputs or the queries'
contract change.
"""
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (build + replica helpers)

SCALES = ("x2",)


def number(d):
    if d == 0:
        return "0"
    with decimal.localcontext() as ctx:
        ctx.prec = 9
        ctx.rounding = decimal.ROUND_HALF_EVEN
        r = +d
    return format(r.normalize(), "f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(value(r[i]) for i in order)
        h = hashlib.md5(line.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big", signed=True)) % (1 << 64)
    return len(rows), "%016x" % total


def main():
    cp, _ = run.build()
    sql_path = os.path.join(run.BUILD, "oracle_sql.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    subprocess.run([java, "-cp", cp, "perfbench.Main", "--dump-oracle", sql_path], check=True)
    with open(sql_path) as f:
        oracle = json.load(f)
    expected = {}
    for scale in SCALES:
        run.replica(scale)
        data = os.path.join(run.BUILD, "data", scale)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        expected[scale] = {}
        for q, sql in oracle.items():
            res = con.sql(sql)
            n, fp = fingerprint(res.columns, res.fetchall())
            expected[scale][q] = {"rows": n, "fingerprint": fp}
            print(f"{scale} {q}: {n} rows {fp}", file=sys.stderr)
        con.close()
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
