#!/usr/bin/env python3
"""Record the query_mix oracle: perfbench/oracle/query_mix.json.

Usage, from the root of a checkout:

    python3 perfbench/oracle.py

Builds the harness, writes the benchmark corpus (it depends on no seed),
runs each query_mix query once through the engine, and runs the query's
DuckDB oracle SQL (SparkEntry.oracleSql) over the same parquet files.
Both results are fingerprinted the same way (CanonHash.scala, `canon_hash`
below). A query whose Spark result matches DuckDB is recorded with the
DuckDB fingerprint; a query with no oracle SQL is recorded with the Spark
fingerprint and marked "spark". Any mismatch is printed and the file is
not written.
"""
import datetime
import decimal
import hashlib
import json
import math
import shutil
import struct
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def num(x):
    d = float(x)
    if d == 0.0:
        d = 0.0
    bits = (0x7ff8000000000000 if math.isnan(d)
            else struct.unpack(">Q", struct.pack(">d", d))[0])
    return "D%016x" % bits


def token(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, (int, float, decimal.Decimal)):
        return num(v)
    if isinstance(v, str):
        return f"S{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "T%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "E%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return "X" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(token(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(token(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v)}")


def sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def canon_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    digests = sorted(sha("|".join(token(r[i]) for i in order)) for r in rows)
    return len(rows), sha(",".join(cols[i] for i in order) + "\n"
                          + "\n".join(digests))


def main():
    classpath, _ = run.build()
    work = run.WORK / "oracle"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    corpus = work / "corpus"
    spark_json = work / "spark.json"
    code, _ = run.run_jvm(
        run.java_cmd(classpath, ["record", str(corpus), str(spark_json)]),
        work / "record.log")
    if code != 0:
        sys.exit(f"record run failed (exit {code}); see {work}/record.log")
    spark = json.loads(spark_json.read_text())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet')")
    out = {"sf": spark["sf"],
           "command": "python3 perfbench/oracle.py", "queries": {}}
    bad = 0
    for name, q in spark["queries"].items():
        if "sql" not in q:
            out["queries"][name] = {"rows": q["rows"], "hash": q["hash"],
                                    "check": "spark"}
            print(f"SPARK  {name}: {q['rows']} rows (no oracle SQL)")
            continue
        rel = con.execute(q["sql"])
        cols = [d[0] for d in rel.description]
        rows, h = canon_hash(cols, rel.fetchall())
        if (rows, h) != (q["rows"], q["hash"]):
            bad += 1
            print(f"FAIL   {name}: spark {q['rows']} rows {q['hash'][:12]}, "
                  f"duckdb {rows} rows {h[:12]}")
        else:
            print(f"PASS   {name}: {rows} rows")
        out["queries"][name] = {"rows": rows, "hash": h, "check": "duckdb"}
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"{bad} queries differ from the DuckDB oracle; not written")
    dest = run.BENCH / "oracle" / "query_mix.json"
    dest.parent.mkdir(exist_ok=True)
    dest.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
