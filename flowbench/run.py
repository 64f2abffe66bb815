#!/usr/bin/env python3
"""Runs one flowbench workload and prints its result as the last stdout line.

    python3 flowbench/run.py --workload lineage-tpcds --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run in a checkout builds the
harness and the repository's main sources with sbt (offline); later runs
reuse the build until a source file changes. Everything the benchmark
writes stays under flowbench/.build/. See flowbench/NOTES.md.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ["lineage-tpcds", "inventory-sf0.1"]
# Inputs the benchmark needs from the rest of the checkout.
REQUIRED = ["build.sbt", "src/main/scala", "src/test/resources/tpcds-flow-tests",
            "flowbench/build.sbt", "flowbench/data/sf0.1"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"flowbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source the build compiles, so edits trigger a rebuild."""
    h = hashlib.sha256()
    files = []
    for top in ("build.sbt", "src/main/scala", "flowbench/src", "flowbench/build.sbt",
                "flowbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            files.append(top)
        for d, _, names in os.walk(path):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java_cmd(classpath, tmp, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", classpath, "graft.flowbench.FlowBench", "--root", ROOT, *args])


def build(stamp):
    """Compiles with sbt; returns the run classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
    lines = open(log).read().splitlines()
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("sbt build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die(f"not a full checkout, missing {', '.join(missing)}")

    classpath = build(source_stamp())
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    t0_ms = int(time.time() * 1000)
    cmd = java_cmd(classpath, tmp, "--mode", "run", "--work", work, "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--t0-ms", str(t0_ms))
    err_path = os.path.join(BUILD, f"last-{a.workload}.stderr")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                  timeout=RUN_TIMEOUT_S)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(BUILD, f"last-spans-{a.workload}.jsonl"))
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in proc.stdout.splitlines():
        if line.startswith("FLOWBENCH_RESULT "):
            result = json.loads(line[len("FLOWBENCH_RESULT "):])
        elif line.startswith(("metric ", "layer ")):
            print(line)
    if proc.returncode != 0 or result is None:
        sys.stderr.write("".join(open(err_path).readlines()[-40:]))
        die(f"workload run failed (exit {proc.returncode})")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
