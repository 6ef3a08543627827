#!/usr/bin/env python3
"""Extraction-job benchmark driver.

    python3 jobbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness with sbt
(once per source tree: the build is keyed by a hash of every source file),
then runs the harness JVM (`jobbench.JobBench`), which generates the
workload from the seed, runs the production job (`graft.pipeline.ExtractJob`)
and prints one JSON result as the last line of standard output.

Everything the benchmark writes stays under `jobbench/work/` and
`jobbench/target/`. The full record of each run (metrics, host, provenance)
is written to `jobbench/work/results/`; `jobbench/compare.py` compares two
such result sets.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, "work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
WORKLOADS = ("crawl_mix", "resume_tail")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"jobbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(sha):
    """Compiles with sbt unless the classpath was built from this source tree."""
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == sha:
                return
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-batch",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt')}",
           "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}",
           "writeClasspath"]
    t0 = time.time()
    # sbt's output goes to stderr: stdout carries only the result line
    r = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(sha)
    print(f"jobbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-row", action="store_true",
                    help="alter one output row before the correctness gate; the run "
                         "must then report correct=false (a check of the gate itself)")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
             "run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    sha = source_hash()
    build(sha)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "jobbench.JobBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--commit", git_commit(), "--source-sha", sha]
    if a.inject_wrong_row:
        cmd += ["--inject-wrong-row"]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness exceeded {JVM_TIMEOUT_S} s and was stopped")
    except KeyboardInterrupt:
        proc.kill()
        proc.wait()
        raise
    sys.exit(rc)


if __name__ == "__main__":
    main()
