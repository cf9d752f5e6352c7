#!/usr/bin/env python3
"""Self-test of the benchmark at its tiny size (sf0.001 tables, small corpora).

Usage: python3 perfbench/selftest.py   (from the repository root)

1. Runs every workload untraced, and the serving workload traced, and
   requires exit 0, `correct: true` and every metric BENCHMARK.json names.
2. Runs the suite against an expected-values file with one hash altered,
   and the serving workload with a recall floor above 1, and requires both runs
   to report `correct: false` and exit 1: the output checks can fail.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(".perfbench", "selftest")


def run(workload, trace=0, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, last, p.stderr


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    os.makedirs(WORK, exist_ok=True)
    failures = []

    def expect(label, ok, why):
        print(("PASS " if ok else "FAIL ") + label + ("" if ok else f": {why}"))
        if not ok:
            failures.append(label)

    for workload, trace in (("suite_sf01", 0), ("serve_closed_loop", 0), ("serve_closed_loop", 1)):
        code, last, err = run(workload, trace)
        names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        ok = code == 0 and last is not None and last["correct"] and all(n in last["metrics"] for n in names)
        expect(f"{workload} trace={trace} runs correct", ok, f"exit {code}\n{err[-3000:]}")

    with open(os.path.join(HERE, "expected", "suite_sf01_tiny.json")) as fh:
        expected = json.load(fh)
    first = sorted(expected)[0]
    expected[first]["hash"] = "0"
    corrupt = os.path.join(WORK, "expected_corrupt.json")
    with open(corrupt, "w") as fh:
        json.dump(expected, fh)
    code, last, _ = run("suite_sf01", extra=("--expected", corrupt))
    expect("suite fails on a corrupted expected hash", code == 1 and last is not None and not last["correct"],
           f"exit {code}, last line {last}")

    with open(os.path.join(HERE, "workloads.json")) as fh:
        conf = json.load(fh)
    conf["serve_closed_loop"]["tiny"]["recall_floor_ivf"] = 1.01
    floors = os.path.join(WORK, "workloads_corrupt.json")
    with open(floors, "w") as fh:
        json.dump(conf, fh)
    code, last, _ = run("serve_closed_loop", extra=("--config", floors))
    expect("serve fails on a recall floor above 1", code == 1 and last is not None and not last["correct"],
           f"exit {code}, last line {last}")

    shutil.rmtree(WORK, ignore_errors=True)
    print(f"{'FAILED: ' + ', '.join(failures) if failures else 'all self-tests passed'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
