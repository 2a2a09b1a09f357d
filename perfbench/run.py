#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (sbt, into
`perfbench/.build`), then runs one workload in a fresh JVM on a
`local[nproc]` Spark session. The JVM prints an environment line and, as
the last stdout line, the result object
`{"correct", "attempted", "failed", "metrics"}`; the full record of the
run goes to `perfbench/out/<workload>-seed<seed>-trace<t>.json`.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("bbha_kmeans", "query_survival")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 needs these outside spark-submit (as in the program's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(tree):
    """Compiles the program and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath-" + tree)
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.exit(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else ""
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("no program sources next to the benchmark: nothing to build")

    tree = stamp()
    cp = build(tree)
    cores = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--root", ROOT, "--cores", str(cores),
            "--commit", commit() or "tree-" + tree, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    log = os.path.join(WORK, f"{a.workload}.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=fh,
                               stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    lines = p.stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    if p.returncode not in (0, 1) or not lines:
        sys.exit(f"run failed (exit {p.returncode}); see {log}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(lines[-1], flush=True)
    if p.returncode != 0 or not result["correct"]:
        sys.exit(f"output gate failed; see {log}")


if __name__ == "__main__":
    main()
