#!/usr/bin/env python3
"""Cross-checks the suite's expected values against the DuckDB oracle.

Usage: python3 perfbench/oracle_check.py [full|tiny]   (from the repository root)

Dumps the output of every query of the suite subset over the generated
tables, then runs scripts/check.py, which evaluates each query's oracle SQL
in DuckDB over the same tables and compares the rows. The dumped outputs'
row counts must also equal the recorded expected row counts. Queries
without an oracle SQL are reported as unchecked.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main(size):
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        conf = json.load(fh)["suite_sf01"][size]
    data = run.suite_data(root, conf)
    out = os.path.join(root, ".perfbench", "oracle", size)
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "suite_sf01", "--seed", "0",
                    "--seconds", "1", "--trace", "0", "--size", size, "--dump", out], check=True)
    code = subprocess.run([sys.executable, os.path.join(root, "scripts", "check.py"), data, out]).returncode

    import pyarrow.parquet as pq
    with open(os.path.join(HERE, "expected", f"suite_sf01_{size}.json")) as fh:
        expected = json.load(fh)
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = 0
    for q in conf["queries"]:
        rows = pq.read_table(os.path.join(out, q)).num_rows
        if rows != expected[q]["rows"]:
            print(f"FAIL {q}: dumped {rows} rows, expected file says {expected[q]['rows']}")
            bad += 1
        if q not in oracles:
            print(f"UNCHECKED {q}: no oracle SQL")
    shutil.rmtree(out, ignore_errors=True)
    return 1 if code or bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "full"))
