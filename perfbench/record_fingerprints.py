#!/usr/bin/env python3
"""Records the expected result fingerprints of the registry workload.

Run from the repository root after one benchmark run has built the
program and generated the registry data:
  python3 perfbench/record_fingerprints.py q1,q2,...

It collects each named query once on the registry data (.bench_data/sf01),
dumps every result next to its oracle SQL, flattens the data tables into
single parquet files for DuckDB, and runs tools/check_oracle.py on the
dumps. Only when every query passes the oracle are the fingerprints of the
dumped rows written to perfbench/expected/registry_sf01.json.
"""
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(names):
    root = os.getcwd()
    data = os.path.join(root, ".bench_data", "sf01")
    work = os.path.join(root, ".bench_run", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runner = run.Runner(root, time.time() + 3600)
    dump = os.path.join(work, "dump")
    runner.java(work, "graft.perfbench.Main",
                ["--workload", "registry_sf01", "--seed", "0", "--seconds", "0",
                 "--run-dir", work, "--data-dir", data, "--t0-ms", "0",
                 "--out", os.path.join(work, "out.json"), "--queries", names,
                 "--record", dump], "record.log")
    flat = os.path.join(work, "flat")
    os.makedirs(flat)
    for t in TABLES:
        duckdb.sql(f"COPY (SELECT * FROM '{data}/{t}.parquet/*.parquet') "
                   f"TO '{flat}/{t}.parquet' (FORMAT PARQUET)")
    res = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                          flat, dump], capture_output=True, text=True)
    print(res.stdout, end="")
    lines = [ln for ln in res.stdout.splitlines() if ln[:4] in ("OK  ", "FAIL")]
    if res.returncode != 0 or len(lines) != len(names.split(",")) or \
            any(ln.startswith("FAIL") for ln in lines):
        print("oracle check failed; fingerprints not written", file=sys.stderr)
        return 1
    with open(os.path.join(dump, "fingerprints.json")) as f:
        prints = json.load(f)
    out = os.path.join(HERE, "expected", "registry_sf01.json")
    with open(out, "w") as f:
        json.dump({"data": "ScaleGen x100 of perfbench/data/base",
                   "queries": dict(sorted(prints.items()))}, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(prints)} fingerprints to {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
