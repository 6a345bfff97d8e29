#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload mr_zipf --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source with sbt (once per source
change; the classpath is cached under .bench_build/), then runs one
workload in one JVM on local[N], N = the number of cores. Everything the
run writes goes under .bench_work/ in the checkout. The last line of
stdout is the result: {"correct", "attempted", "failed", "metrics"}.

Options beyond the contract, for the smoke test and for pinning:
  --catalog-dir DIR    catalog tables (default perfbench/data/catalog)
  --corpus-mb X        mr_zipf corpus size in MB (default 8)
  --plant-wrong 1      corrupt the first timed job's output on purpose
  --pin 1              run every catalog query once and write its digest
  --check-totals 1     compare listener totals with Spark's own account
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170

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


def source_digest():
    """sha256 over every file the build compiles or configures."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles with sbt unless the cached classpath matches `digest`."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Djava.io.tmpdir="
                       + os.path.join(BUILD_DIR, "tmp")).strip()
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                            stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return lines[-1]


def git_sha():
    """HEAD of the checkout when it is the top of a git work tree, else "none"."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return "none"
    return lines[1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["mr_zipf", "catalog_scan", "catalog_iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--catalog-dir", default=os.path.join(BENCH, "data", "catalog"))
    ap.add_argument("--corpus-mb", default="8")
    ap.add_argument("--plant-wrong", choices=["0", "1"], default="0")
    ap.add_argument("--pin", choices=["0", "1"], default="0")
    ap.add_argument("--check-totals", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the root of a checkout")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        fail("SPARK_HOME must point at a Spark install with a jars/ directory")
    if not os.path.isdir(a.catalog_dir):
        fail(f"catalog tables not found in {a.catalog_dir}")

    digest = source_digest()
    classpath = build(digest)

    work = os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap size keeps heap resizing out of the timings
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--catalog-dir", os.path.abspath(a.catalog_dir),
            "--corpus-mb", a.corpus_mb,
            "--plant-wrong", a.plant_wrong, "--pin", a.pin,
            "--check-totals", a.check_totals,
            "--stamp-git_sha", git_sha(), "--stamp-source_sha256", digest,
            "--stamp-sf_dir", os.path.relpath(os.path.abspath(a.catalog_dir), ROOT)]

    log_path = os.path.join(work, "jvm.log")
    last = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(3)))
        timer = threading.Timer(JVM_TIMEOUT_S, stop)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if last is not None:
                    print(last, flush=True)
                last = line
            rc = proc.wait()
        finally:
            timer.cancel()
            stop()
            proc.wait()

    result = None
    if rc == 0 and last:
        try:
            result = json.loads(last)
        except ValueError:
            result = None
    keep = os.path.join(WORK_ROOT, "traces")
    for f in os.listdir(work):
        if f.startswith("trace-"):
            os.makedirs(keep, exist_ok=True)
            shutil.move(os.path.join(work, f), os.path.join(keep, f))
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        if last is not None:
            print(last, file=sys.stderr)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the JVM ended without a result (exit {rc})")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
