#!/usr/bin/env python3
"""Regenerate perfbench/reference/catalog_<sf>.json from DuckDB.

Usage (from the root of the checkout): python3 perfbench/tools/catalog_refs.py

Builds the benchmark (as run.py does), dumps `SparkEntry.oracleSql` for every
catalog query the benchmark knows, replays each statement in DuckDB over the
tables in perfbench/data/<sf>, and stores one fingerprint per query: row
count, sorted column names and the SHA-256 of the normalized, sorted rows.
Cells are normalized as in tools/oracle_check.py; perfbench's
Fingerprint.scala computes the same digest from the Spark result. Needs
duckdb and pyarrow.
"""
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

SF = "sf0.01"


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def fingerprint(tbl):
    cols = sorted(tbl.column_names)
    data = {c: tbl.column(c).to_pylist() for c in cols}
    rows = sorted(tuple(norm_cell(data[c][i]) for c in cols) for i in range(tbl.num_rows))
    text = "\n".join(["\x1f".join(cols)] + ["\x1f".join(r) for r in rows])
    return {"rows": len(rows), "columns": cols,
            "sha256": hashlib.sha256(text.encode("utf-8")).hexdigest()}


def main():
    build_dir = os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = run.build(build_dir)
    sql_file = os.path.join(build_dir, "oracle_sql.json")
    subprocess.run(["java", "-cp", f"{classes}:{run.SPARK_JARS}/*", "perfbench.OracleSql",
                    sql_file], check=True)
    oracle = json.load(open(sql_file))
    data = os.path.join(run.BENCH, "data", SF)
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(data, f)}')")
    refs = {}
    for name in sorted(oracle):
        t0 = time.time()
        refs[name] = fingerprint(con.execute(oracle[name]).arrow())
        print(f"{name}: {refs[name]['rows']} rows in {time.time() - t0:.1f} s")
    with open(os.path.join(run.BENCH, "reference", f"catalog_{SF}.json"), "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
