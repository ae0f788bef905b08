#!/usr/bin/env python3
"""Regenerate perfbench/fingerprints.json and check it against DuckDB.

    python3 perfbench/validate_fingerprints.py [--write]

Run from the repository root. Runs each of the `scan` workload's queries
once over the base tables in perfbench/data/sf0.01 (perfbench.Fingerprint),
then runs each query's `SparkEntry.oracleSql` text in DuckDB over the same
parquet files
and compares the two results the way tools/check.py does (columns sorted
by name, floats rounded to 6 decimals, rows order-insensitive). With
`--write`, and only when every query matches, the new fingerprints
replace the committed file. Needs the duckdb and pandas modules.
"""

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's build step)


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        out[c] = s.round(6).astype(str) if s.dtype.kind == "f" else s.astype(str)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def main():
    work_root = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work_root, exist_ok=True)
    cp, _, _ = run.build(ROOT, work_root)
    data = run.data_dir(HERE)
    work = os.path.join(work_root, "fingerprint")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    new = os.path.join(work, "fingerprints.json")
    cmd = run.java_cmd(cp, "perfbench.Fingerprint", data, work, new,
                       props=[f"-Djava.io.tmpdir={work}/tmp"])
    subprocess.run(cmd, check=True, cwd=work, env=run.spark_env(work))

    con = duckdb.connect()
    for name in run.TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
    fps = json.load(open(new))["queries"]
    failures = 0
    for q in fps:
        sql_path = os.path.join(work, "results", f"{q}.sql")
        if not os.path.exists(sql_path):
            print(f"NO-ORACLE {q}")
            failures += 1
            continue
        got = norm(pd.read_parquet(os.path.join(work, "results", q)))
        want = norm(con.sql(open(sql_path).read()).df())
        ok = list(got.columns) == list(want.columns) and got.equals(want)
        print(f"{'PASS' if ok else 'FAIL'} {q:28s} rows={len(got)}/{len(want)}")
        failures += 0 if ok else 1
    if failures:
        sys.exit(f"{failures} queries differ from the oracle; fingerprints not written")
    if "--write" in sys.argv:
        shutil.copy(new, os.path.join(HERE, "fingerprints.json"))
        print("wrote perfbench/fingerprints.json")


if __name__ == "__main__":
    main()
