#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <suite_sf01|serve_closed_loop>
      --seed <n> --seconds <s> --trace <0|1> [--size full|tiny]

Builds the repository and the benchmark from source when their sources
changed (perfbench/build.py), generates the inputs from the seed, and runs
the workload in a JVM launched directly on the compiled classpath. Every
metric is printed once as `<name> <value> <unit>`; the last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). The full result, with provenance, checks and errors, is written
to .perfbench/results/. Exits 1 when an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("suite_sf01", "serve_closed_loop")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def git_commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def suite_data(root, conf):
    """Seeded sf tables, generated once per (sf, data seed, generator)."""
    with open(gen_tables.__file__, "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(root, ".perfbench", "data", f"sf{conf['sf']}-seed{conf['data_seed']}-{gen}")
    if not os.path.isdir(d):
        gen_tables.main(d, float(conf["sf"]), int(conf["data_seed"]))
    return d


def run(args):
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    config = os.path.abspath(args.config or os.path.join(HERE, "workloads.json"))
    with open(config) as fh:
        conf = json.load(fh)[args.workload][args.size]
    classpath, digest = build.build(root)

    stamp = f"{args.workload}-{args.size}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    results = os.path.join(root, ".perfbench", "results")
    tmp = os.path.join(root, ".perfbench", "tmp", stamp)
    os.makedirs(results, exist_ok=True)
    os.makedirs(tmp)
    out = os.path.join(results, f"{stamp}.json")
    expected = os.path.abspath(args.expected or os.path.join(HERE, "expected", f"{args.workload}_{args.size}.json"))
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--size", args.size, "--config", config, "--out", out,
                "--expected", expected, "--record", "1" if args.record else "0"]
    if args.workload == "suite_sf01":
        jvm_args += ["--data", suite_data(root, conf)]
    if args.trace:
        jvm_args += ["--spans", os.path.join(results, f"{stamp}.spans.json")]
    if args.dump:
        jvm_args += ["--dump", os.path.abspath(args.dump)]
    cmd = (["java", f"-Xmx{conf['heap']}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-XX:MaxMetaspaceSize=2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + jvm_args)
    log = os.path.join(results, f"{stamp}.log")
    try:
        with open(log, "wb") as fh:
            proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=tmp)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"workload exceeded {JVM_TIMEOUT_S} s, see {log}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload JVM exited with {code}, see {log}")
    with open(out) as fh:
        res = json.load(fh)
    if args.dump:
        return 0
    res["provenance"].update({"seed": args.seed, "run_seconds": args.seconds, "git_commit": git_commit(root),
                              "source_hash": digest, "python": sys.version.split()[0]})
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)

    for name, m in sorted(res["metrics"].items()):
        print(f"{name} {m['value']} {m['unit']}")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    for e in res["errors"]:
        print(f"ERROR {e['op']}: {e['class']}: {e['message']}", file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"metrics not reported: {', '.join(missing)}")
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {m["name"]: res["metrics"][m["name"]] for m in wanted}}
    print(json.dumps(line))
    return 0 if res["correct"] else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--config", help="workload config (default perfbench/workloads.json)")
    ap.add_argument("--expected", help="suite expected values (default perfbench/expected/)")
    ap.add_argument("--record", action="store_true", help="suite: write the observed values as expected")
    ap.add_argument("--dump", help="suite: write query outputs and oracle SQL to this directory and stop")
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
