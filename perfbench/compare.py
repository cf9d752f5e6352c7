#!/usr/bin/env python3
"""Compares two sets of benchmark results, metric by metric.

Usage: python3 perfbench/compare.py <base result.json ...> -- <change result.json ...>

Results are the full files run.py writes to .perfbench/results/. Both sets
must come from one workload and trace mode and share provenance apart from
seed, commit and source hash; otherwise the comparison is refused (exit 2).
For each metric it prints each side's median and quartiles, and for the
end-to-end metrics of BENCHMARK.json whether the change's median is worse
than the base's by more than the metric's bound (exit 1 if any is).
"""
import json
import os
import statistics
import sys

# provenance that legitimately differs between the runs being compared
VARYING = {"seed", "git_commit", "source_hash"}


def load(paths):
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def comparable(res):
    prov = {k: v for k, v in res["provenance"].items() if k not in VARYING}
    return json.dumps([res["workload"], res["size"], res["trace"], prov], sort_keys=True)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    base, change = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not change:
        sys.exit(__doc__)
    keys = {comparable(r) for r in base + change}
    if len(keys) != 1:
        print("refused: the results differ in workload, trace mode or provenance:", file=sys.stderr)
        for k in sorted(keys):
            print("  " + k, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    worse = []
    names = sorted(set.intersection(*(set(r["metrics"]) for r in base + change)))
    print(f"{'metric':40s} {'base q1/median/q3':>32s} {'change q1/median/q3':>32s}  verdict")
    for n in names:
        b = [r["metrics"][n]["value"] for r in base if r["metrics"][n]["value"] is not None]
        c = [r["metrics"][n]["value"] for r in change if r["metrics"][n]["value"] is not None]
        if not b or not c:
            continue
        bq, cq = quartiles(b), quartiles(c)
        verdict = ""
        if n in bounds:
            m = bounds[n]
            delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            if m["better"] == "higher":
                delta = -delta
            verdict = f"{delta:+.1%} (bound {m['bound']:.0%})"
            if delta > m["bound"]:
                verdict += " WORSE"
                worse.append(n)
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{n:40s} {fmt(bq):>32s} {fmt(cq):>32s}  {verdict}")
    failed = sum(r["failed"] for r in change)
    print(f"runs: base {len(base)}, change {len(change)}; change failed operations: {failed}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
