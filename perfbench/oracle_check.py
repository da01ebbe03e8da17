#!/usr/bin/env python3
"""Cross-check the recorded query digests against the DuckDB oracle.

    python3 perfbench/oracle_check.py DATA_DIR VERIFY_DIR

DATA_DIR holds the benchmark's input tables (perfbench/target/data/...);
VERIFY_DIR is the output of `graft.Verify DATA_DIR VERIFY_DIR <queries>`
(one parquet per query plus oracle_sql.json). For every recorded query
this recomputes the digest, with the canonicalisation of
perfbench/src/main/scala/perfbench/Digest.scala, twice: over the Spark
result Verify wrote (which must reproduce the recorded digest, checking
this port) and over the oracle SQL's result in DuckDB. Exits 1 on any
difference; queries without oracle SQL are listed as unchecked.
"""
import decimal
import datetime
import hashlib
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def canonical(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return {"inf": "Infinity", "-inf": "-Infinity"}.get(str(v), "NaN")
        return "0" if v == 0 else plain(CTX.plus(decimal.Decimal(v)))
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else plain(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=None) - EPOCH
        return "t" + str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d" + str((v - EPOCH.date()).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canonical(x) for x in v.values()) + ")"
    if isinstance(v, bytes):
        return "x" + v.hex()
    s = str(v).replace("\\", "\\\\").replace('"', '\\"')
    return '"' + s + '"'


def plain(d):
    d = d.normalize()
    return format(d, "f")


def digest(rows):
    total = 0
    for r in rows:
        text = "(" + ",".join(canonical(x) for x in r) + ")"
        h = hashlib.md5(text.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big", signed=True)) % (1 << 64)
    return f"{len(rows)}:{total:016x}"


def main():
    data, verify = sys.argv[1], sys.argv[2]
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "digests", "etl_queries.json")) as fh:
        recorded = json.load(fh)
    with open(os.path.join(verify, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = 0
    for name, want in sorted(recorded.items()):
        spark = pq.read_table(os.path.join(verify, name))
        cols = spark.column_names
        got_spark = digest([tuple(r[c] for c in cols) for r in spark.to_pylist()])
        if name not in oracle:
            print(f"UNCHECKED {name}: no oracle SQL (spark {got_spark})")
            bad += got_spark != want
            continue
        rel = con.sql(oracle[name])
        rows = rel.fetchall()
        idx = [rel.columns.index(c) for c in cols]
        got_oracle = digest([tuple(r[i] for i in idx) for r in rows])
        ok = got_spark == want and got_oracle == want
        bad += not ok
        print(f"{'OK' if ok else 'MISMATCH'} {name}: recorded {want} "
              f"spark {got_spark} oracle {got_oracle}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
