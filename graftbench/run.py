#!/usr/bin/env python3
"""Run one workload of graft's benchmark.

    python3 graftbench/run.py --workload er-batch --seed 42 --seconds 20 --trace 0

Run from the repository root. Builds the benchmark (graft's sources from
../src plus this directory's) with sbt when a source changed since the
last build, then launches one JVM directly, without sbt. The JVM's
standard output is passed through; its last line is the JSON result. The
exit code is the JVM's: non-zero when a correctness check fails.

Each run works in a fresh directory under graftbench/out/. Untraced runs
remove it at the end; traced runs keep spans.jsonl and report.json there.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HOME = Path(__file__).resolve().parent
ROOT = HOME.parent
GRAFT_SRC = ROOT / "src" / "main"
CLASSES = HOME / "target" / "scala-2.13" / "classes"
STAMP = HOME / "target" / "graftbench.stamp"
WORKLOADS = ["er-batch", "ops-suite", "er-stream"]
HEAP = "4g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175
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
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    files = [HOME / "build.sbt", HOME / "project" / "build.properties"]
    for base in (GRAFT_SRC, HOME / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    digest = source_digest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    print("graftbench: building with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=HOME, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed", 3)
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (GRAFT_SRC / "scala" / "graft").is_dir():
        fail("graft's sources are missing: run from a checkout of the repository")
    if not (HOME / "data" / "sf0.1").is_dir():
        fail("the benchmark's tables under graftbench/data are missing")

    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark installation")
    spark = Path(os.environ["SPARK_HOME"])

    build()
    run_dir = HOME / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}"
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark / 'jars' / '*'}", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--home", str(HOME), "--run-dir", str(run_dir),
            "--launched-at-ms", repr(time.time() * 1e3)]
    proc = subprocess.Popen(cmd, cwd=run_dir, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"graftbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        code = 4
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if a.trace == "1":
            for d in ("work", "spark-local", "tmp", "warehouse"):
                shutil.rmtree(run_dir / d, ignore_errors=True)
        else:
            shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
