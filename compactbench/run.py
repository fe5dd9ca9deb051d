#!/usr/bin/env python3
"""Compaction benchmark entry point.

Usage (from the repository root):

    python3 compactbench/run.py --workload mor_rewrite --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, then runs one workload in one JVM and prints,
as its last line, one JSON object with the keys correct, attempted, failed
and metrics. See compactbench/README.md for the workloads and metrics.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "bench-classpath.json")
WORKLOADS = ("mor_rewrite", "small_files")
# One run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
DRIVER_HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (the same list as
# the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"compactbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt if needed; returns (classpath, whether it built)."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"sbt build failed with code {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        fail("sbt printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": lines[-1]}, fh)
    print(f"compactbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1], True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from a checkout of the repository")
    classpath, built = build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl")
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work]
           + (["--spans", spans] if args.trace else []))
    log = os.path.join(HERE, "out", f"jvm-{args.workload}-{args.seed}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    # a run that had to build may take longer; otherwise the whole run,
    # start-up included, stays within RUN_LIMIT_S
    limit = RUN_LIMIT_S if built else max(10, RUN_LIMIT_S - (time.time() - start))
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                  stdin=subprocess.DEVNULL, text=True, timeout=limit,
                                  env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit:.0f} s; JVM log in {os.path.relpath(log, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode not in (0, 1) or not lines:
        fail(f"JVM exited with code {proc.returncode}; log in {os.path.relpath(log, ROOT)}")
    result = json.loads(lines[-1])
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
