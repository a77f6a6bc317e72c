#!/usr/bin/env python3
"""Savepoint-path benchmark.

Runs one workload of the benchmark in one Spark JVM and prints its result
object as the last line of standard output:

    python3 perfbench/run.py --workload sp-transform --seed 1 --seconds 30 --trace 0

Workloads: sp-transform, curation. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see BENCHMARK.json).

The library (src/main) and the benchmark (perfbench/src/main) are compiled
from source with sbt on first use; later runs reuse the build while no
source file has changed. Spark comes from $SPARK_HOME/jars. Everything the
run writes stays under perfbench/target.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORKLOADS = ("sp-transform", "curation")
HEAP = "2g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if sources changed."""
    stamp, cp_file = TARGET / "bench.stamp", TARGET / "bench.classpath"
    digest = source_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    classes = str(TARGET / "scala-2.13" / "classes")
    cp = [l for l in lines if l.startswith(classes)]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail("build failed")
    TARGET.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp[-1])
    stamp.write_text(digest)
    return cp[-1]


def git_commit():
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"library sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    classpath = build()
    work = TARGET / "work"
    env = dict(os.environ)
    # Spark's scratch space stays inside the checkout
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap keeps heap resizing out of the timings
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={TARGET / 'tmp'}", f"-Dperfbench.commit={git_commit()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--results", str(TARGET / "results")]
    (TARGET / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = proc.stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"no result line (exit code {proc.returncode})")
    print(json.dumps(result), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
