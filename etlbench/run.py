#!/usr/bin/env python3
"""Benchmark launcher: build the engine and the benchmark from source,
run one workload in a fresh JVM, and relay its JSON result.

Usage, from the repository root:

    python3 etlbench/run.py --workload etl_cold --seed 1 --seconds 10 --trace 0

Workloads: etl_cold, catalog_core (see SPEC.json).
The first run in a checkout compiles with sbt (about a minute); later
runs reuse the build until a source file changes. Everything the run
writes stays under .bench_work/ in the checkout, and the last line of
standard output is the result object.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = "etlbench"
ENGINE_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join(BENCH, "src")
CLASSPATH_FILE = os.path.join(BENCH, "target", "run-classpath.txt")
WORK = ".bench_work"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for root in (ENGINE_SOURCES, BENCH_SOURCES, os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(root):
            newest = max(newest, os.path.getmtime(root))
        for d, _, files in os.walk(root):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt unless the recorded classpath is newer than every
    source; return the run classpath."""
    if (os.path.isfile(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime()):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed with code {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    print(f"etlbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_cold", "catalog_core"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record-digests", help=argparse.SUPPRESS)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SOURCES) or not os.path.isfile(
            os.path.join(BENCH, "build.sbt")):
        fail("run from the repository root: engine sources not found")
    cp = build()

    cpus = str(len(os.sched_getaffinity(0)))
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "etlbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    if a.record_digests:
        cmd += ["--record-digests", a.record_digests]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not lines:
        fail(f"run failed with code {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
