#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own sources with the Scala compiler that ships in the Spark
distribution, without sbt, into .perfbench/build/<source hash>/.

Usage: python3 perfbench/build.py   (from the repository root; prints the
runtime classpath). run.py calls build() before every run; a build whose
source hash is already present is reused.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

SCALA = "2.13.17"


def sources(root):
    repo = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    return repo, bench


def source_hash(root):
    repo, bench = sources(root)
    h = hashlib.sha256()
    for f in repo + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jars(root):
    """The Spark distribution's jar directory, as build.sbt names it."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not glob.glob(os.path.join(m.group(1), "*.jar")):
        raise SystemExit("build: build.sbt names no directory of Spark jars")
    return m.group(1)


def scalac(jars, out, classpath, files, log):
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-deprecation", "-nowarn", "-d", out, "-classpath", os.pathsep.join(classpath)] + files
    with open(log, "ab") as fh:
        if subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode != 0:
            raise SystemExit(f"build: compilation failed, see {log}")


def build(root):
    """Returns (runtime classpath, source hash), compiling when needed."""
    repo, bench = sources(root)
    if not repo or not bench or not os.path.isfile(os.path.join(root, "build.sbt")):
        raise SystemExit("build: run from the repository root; its sources are missing here")
    digest = source_hash(root)
    out = os.path.join(root, ".perfbench", "build", digest)
    jars = spark_jars(root)
    spark = sorted(glob.glob(os.path.join(jars, "*.jar")))
    cp = [os.path.join(out, "bench"), os.path.join(out, "repo")] + spark
    if os.path.isdir(out):
        return cp, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("repo", "bench"):
        os.makedirs(os.path.join(tmp, d))
    log = os.path.join(root, ".perfbench", "build", f"{digest}.log")
    scalac(jars, os.path.join(tmp, "repo"), spark, repo, log)
    scalac(jars, os.path.join(tmp, "bench"), [os.path.join(tmp, "repo")] + spark, bench, log)
    os.replace(tmp, out)
    return cp, digest


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())[0]))
