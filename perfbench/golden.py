#!/usr/bin/env python3
"""Derive perfbench/goldens.json from the engine's DuckDB oracle twins.

    python3 perfbench/golden.py      # from the root of a source checkout

Builds the benchmark, asks it for the oracle SQL of every golden-checked
query (``SparkEntry.oracleSql``), generates the iter_graph inputs, runs
each query in DuckDB and writes its order-independent digest. Row order
does not change an answer, so the digests hold for every seed's inputs.
The canonical value forms here must stay identical to Digest.scala's.
"""
import decimal
import datetime
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile

import duckdb

import run
from gen import TABLES, star_tables

EPOCH = datetime.datetime(1970, 1, 1)


def canon_double(x):
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == 0:
        return "0"
    mant, exp = ("%.9e" % x).split("e")
    return ("-" if x < 0 else "") + mant.lstrip("-").replace(".", "") + "e" + str(int(exp))


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return canon_double(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return {"cols": [columns[i] for i in order], "rows": len(rows),
            "sum": format(total % (1 << 64), "x")}


def main():
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.HERE) as work:
        sql_path = os.path.join(work, "oracle.json")
        subprocess.run(run.java_cmd(cp, work, ["--oracle-out", sql_path]), check=True,
                       stdin=subprocess.DEVNULL)
        with open(sql_path) as f:
            oracle = json.load(f)
        data = os.path.join(work, "in")
        star_tables(0, data)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        goldens = {}
        for name, sql in sorted(oracle.items()):
            cur = con.execute(sql)
            goldens[name] = digest([d[0] for d in cur.description], cur.fetchall())
            print(f"{name}: {goldens[name]['rows']} rows", file=sys.stderr)
    with open(os.path.join(run.HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
