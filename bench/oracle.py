#!/usr/bin/env python3
"""Regenerate the frozen oracle results in bench/expected/.

Usage (from the repository root):

    python3 bench/oracle.py

Builds the benchmark if needed, asks it for the DuckDB oracle SQL of every
benchmarked query (graft.SparkEntry.oracleSql), runs each in DuckDB over
bench/data/sf0.01, and writes bench/expected/<query>.json.gz: the SQL, the
column names sorted as scripts/check.py sorts them, and the rows as
canonical JSON values (integers, floats with every digit, strings, dates as
yyyy-MM-dd, timestamps as UTC yyyy-MM-dd HH:mm:ss.ffffff, lists).
"""
import datetime
import decimal
import gzip
import json
import sys
from pathlib import Path

import duckdb

import run

DATA = run.BENCH / "data" / "sf0.01"
EXPECTED = run.BENCH / "expected"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """One DuckDB value in the form pbench.Oracle.fromJson reads back."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return [canon(x) for x in v]
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def main():
    classpath = run.build()
    sql_file = run.WORK / "oracle_sql.json"
    code, out = run.run_java(run.java_cmd(classpath, ["--oracle-sql", str(sql_file)]), 300)
    if code != 0:
        sys.stderr.write(out)
        sys.exit(f"oracle SQL dump failed ({code})")
    oracle = json.loads(sql_file.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / (t + '.parquet')}'")
    EXPECTED.mkdir(exist_ok=True)
    for name, sql in oracle.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = [[canon(r[i]) for i in order] for r in cur.fetchall()]
        doc = {"query": name, "sql": sql, "columns": [cols[i] for i in order], "rows": rows}
        path = EXPECTED / f"{name}.json.gz"
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
            gz.write(json.dumps(doc, separators=(",", ":")).encode())
        print(f"{name}: {len(rows)} rows")


if __name__ == "__main__":
    main()
