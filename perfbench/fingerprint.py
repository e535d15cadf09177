#!/usr/bin/env python3
"""Regenerate expected/battery_fingerprints.json: every battery query's
result on the fixture, fingerprinted from the DuckDB oracle.

    python3 perfbench/fingerprint.py

The harness fingerprints each query's Spark result (and hands over its
oracle SQL); this script runs the oracle SQL in DuckDB over the same
fixture, fingerprints those rows by the same canonical rules
(Fingerprint.scala), and writes the DuckDB fingerprints. A query without
oracle SQL keeps its Spark fingerprint, marked "source": "spark". A
Spark/DuckDB disagreement is printed and the script exits 1 without
writing. Views are registered as in tools/check.py.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import struct
import sys

import duckdb

import run

EPOCH = datetime.datetime(1970, 1, 1)


def micros(dt):
    if isinstance(dt, datetime.datetime):
        if dt.tzinfo is not None:
            dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = dt - EPOCH
    else:
        d = datetime.datetime(dt.year, dt.month, dt.day) - EPOCH
    return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds


def render(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, (float, decimal.Decimal)):
        x = float(v)
        if math.isnan(x):
            return "FNaN"
        return "F" + struct.pack(">d", 0.0 if x == 0.0 else x).hex()
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"T{micros(v)}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "L[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
            return "M{" + ",".join(sorted(f"{render(k)}={render(x)}"
                                          for k, x in zip(v["key"], v["value"]))) + "}"
        return "R{" + ",".join(f"{k}={render(x)}" for k, x in sorted(v.items())) + "}"
    raise TypeError(f"no canonical rendering for {type(v)}")


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        line = "\x1f".join(render(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")
    return {"rows": len(rows), "cols": sorted(cols), "hash": f"{total % (1 << 64):016x}"}


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "work", "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    dump = os.path.join(work, "spark.json")
    rc = run.java(cp, work, ["--fingerprints", dump],
                  os.path.join(run.BUILD, "logs", "fingerprints.log"))
    if rc != 0:
        sys.exit(f"harness exited {rc}; see .bench_build/logs/fingerprints.log")
    with open(dump) as f:
        spark = json.load(f)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents "
              "embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.FIXTURE}/{t}.parquet'")
    out, bad = {}, 0
    for name, s in sorted(spark.items()):
        sql = s.get("oracle_sql")
        mine = {k: s[k] for k in ("rows", "cols", "hash")}
        if sql is None:
            out[name] = dict(mine, source="spark")
            continue
        cur = con.execute(sql)
        fp = fingerprint([d[0] for d in cur.description], cur.fetchall())
        if fp != mine:
            bad += 1
            print(f"MISMATCH {name}: duckdb {fp} spark {mine}")
        out[name] = dict(fp, source="duckdb")
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"{bad} queries disagree; expected file not written")
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        json.dump({"fixture": os.path.relpath(run.FIXTURE, run.HERE), "queries": out},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} fingerprints, {sum(v['source'] == 'duckdb' for v in out.values())} "
          f"from the DuckDB oracle")


if __name__ == "__main__":
    main()
