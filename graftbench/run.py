#!/usr/bin/env python3
"""Build and run graft's benchmark.

Usage, from the root of a graft checkout:

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the library's main sources and the
benchmark driver with sbt (graftbench/build.sbt) and records the
classpath; later runs launch the JVM directly. The last line of standard
output is the result object; build and Spark logs go to standard error.
Generated inputs, traces and per-run records land in .bench_build/graftbench.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("sensor_batch", "ingest_gate")
BENCH_DIR = "graftbench"
WORK_DIR = os.path.join(".bench_build", "graftbench")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when the session starts outside
# spark-submit (the same list as the root build).
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


def sources_digest():
    """Digest of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join("src", "main"), os.path.join(BENCH_DIR, "src"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the recorded build matches the sources;
    returns the runtime classpath."""
    stamp = os.path.join(WORK_DIR, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec.get("digest") == digest and all(
                os.path.exists(p) for p in rec["classpath"].split(os.pathsep)):
            return rec["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    try:
        subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "writeClasspath"], cwd=BENCH_DIR, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S, check=True)
    except subprocess.TimeoutExpired:
        fail(f"build took longer than {BUILD_TIMEOUT_S} s", 1)
    except subprocess.CalledProcessError as e:
        fail(f"build failed with exit code {e.returncode}", 1)
    with open(os.path.join(BENCH_DIR, "target", "classpath.txt")) as f:
        classpath = f.read().strip()
    os.makedirs(WORK_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath,
                   "build_s": time.time() - t0}, f)
    return classpath


def check_result(line):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(res)}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seed < 0 or args.seconds < 1:
        fail("--seed must be >= 0 and --seconds >= 1")
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    classpath = build()

    tmp = os.path.abspath(os.path.join(WORK_DIR, f"tmp-{os.getpid()}"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"run took longer than {RUN_TIMEOUT_S} s", 1)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with code {proc.returncode}", 1)
    try:
        check_result(lines[-1])
    except ValueError as e:
        sys.stderr.write(out)
        fail(f"malformed result line: {e}", 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
