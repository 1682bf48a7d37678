#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

Usage, from the root of a source checkout:

    python3 perfbench/run.py --workload ingest_etl --seed 1 --seconds 8 --trace 0

The first run builds the engine and the harness from source with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The harness JVM is started directly, not through sbt, so its
result reaches stdout unprefixed. Inputs are generated from the seed and
cached under .bench_build/inputs. The last stdout line is the result JSON:
{"correct", "attempted", "failed", "metrics"}; the line before it holds the
measured input shares and the output digest.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ingest_etl", "curation", "query_mix")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = ["-Xms3g", "-Xmx3g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(os.getcwd(), ".bench_build")


def fail(msg, code=1):
    print(msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def run_child(cmd, timeout, log, cwd=None, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala: run from a full source checkout", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    if shutil.which("sbt") is None:
        fail("sbt is needed to build the benchmark")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                   log, cwd=BENCH)
    if rc != 0:
        fail(f"build failed (see {log})")
    # inputs cached by an older generator are stale
    shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        fail("Spark jars not found: set SPARK_HOME")
    return os.path.join(home, "jars", "*")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: small inputs for the smoke check")
    ap.add_argument("--corrupt", default="0", choices=("0", "1"),
                    help="1: corrupt one known answer, which must count as a failed op")
    a = ap.parse_args()

    classes = build()
    cp = os.pathsep.join([classes, spark_jars()])
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(WORK, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_HEAP, f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--corrupt", a.corrupt,
            "--work", WORK, "--out", out]
    log = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}.log")
    t0 = time.time()
    rc = run_child(cmd, RUN_TIMEOUT_S, log)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (exit {rc}, {time.time() - t0:.0f}s; see {log})")
    with open(out) as fh:
        res = json.load(fh)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "info": res["info"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
