#!/usr/bin/env python3
"""Recompute perfbench/expected_hashes.json: the DuckDB-oracle result of
every catalog_batch query over perfbench/data/sf0.1, hashed with
tools/check.py's canonical table hash.

    python3 perfbench/refresh_hashes.py     # from the repository root

Run it only when the catalog's declared semantics (its oracle SQL) change
on purpose; the benchmark compares every run against these hashes.
"""
import importlib.util
import json
import os
import subprocess

import run  # perfbench/run.py: build() and the JVM launch options

def main():
    cp = run.build()
    out = subprocess.run(["java", "-cp", cp, "perfbench.OracleSql"], check=True,
                         capture_output=True, text=True).stdout
    oracle = json.loads(out.strip().splitlines()[-1])
    spec = importlib.util.spec_from_file_location("check", os.path.join(run.ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    expected = {}
    for name, sql in sorted(oracle.items()):
        rows = con.execute(sql).fetchall()
        cols = [c[0] for c in con.description]
        expected[name] = {"rows": len(rows), "cols": sorted(cols),
                          "hash": check.table_hash(rows, cols)}
        print(f"{name}: {len(rows)} rows")
    with open(os.path.join(run.HERE, "expected_hashes.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")

if __name__ == "__main__":
    main()
