#!/usr/bin/env python3
"""Record the query workloads' expected results from the DuckDB oracle.

    python3 perfbench/record_expected.py

For each scale the workloads use, generates the tables, runs every
workload query's `SparkEntry.oracleSql` in DuckDB over them and stores
row count and order-insensitive checksum (checks.summary) in
perfbench/expected.json. A query whose oracle SQL fails or runs longer than
ORACLE_LIMIT_S is stored as null, and the benchmark only checks that it
ran. Needs a built harness (run perfbench/run.py once first).
"""
import json
import os
import subprocess
import sys
import tempfile
import threading

import duckdb

import checks
import gen_tables
import run

ORACLE_LIMIT_S = 120
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle_sql(queries, path):
    cp = run.CLASSES + os.pathsep + os.path.join(run.spark_home(), "jars", "*")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", f"dump_oracle={path}",
                    "queries=" + ",".join(queries)], check=True)
    return json.load(open(path))


def record(sf, queries, tmp):
    tables = os.path.join(tmp, f"sf{sf}")
    gen_tables.write(tables, float(sf))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    out = {}
    for q, sql in sorted(oracle_sql(queries, os.path.join(tmp, "oracle.json")).items()):
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            out[q] = checks.summary(con.execute(sql).fetch_arrow_table())
        except Exception as e:  # the oracle did not finish: record no expectation
            print(f"sf{sf} {q}: no oracle result ({type(e).__name__}: {e})", file=sys.stderr)
            out[q] = None
        finally:
            timer.cancel()
        print(f"sf{sf} {q}: {out[q]}")
    return out


def main():
    queries = run.WAREHOUSE_QUERIES + run.CORPUS_QUERIES
    scales = sorted({s["sf"] for s in list(run.WORKLOADS.values()) + list(run.SMOKE.values())
                     if "sf" in s})
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        expected = {f"sf{sf}": record(sf, queries, tmp) for sf in scales}
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
