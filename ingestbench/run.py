#!/usr/bin/env python3
"""Run one workload of the ingest-sink benchmark and print its metrics.

    python3 ingestbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the engine and
the harness with sbt (offline) and caches the classpath under
ingestbench/.build; later runs start the JVM directly. The last line of
stdout is the result: {"correct", "attempted", "failed", "metrics"}; the
line before it ("detail ...") gives each tail's percentile and sample
count, the set-up passes and any failed check. Exit code 0 only when every
output check passed.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".run")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("bulk_append", "stream_fanout", "cdc_upsert_read", "corpus_curate")
# A run that has not finished by then is killed and reported as failed.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs these (Spark's launcher adds
# the same set).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
           os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]


def fail(msg):
    print(f"ingestbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for src in SOURCES:
        if os.path.isfile(src):
            newest = max(newest, os.path.getmtime(src))
        for d, _, files in os.walk(src):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine + harness with sbt and cache the runtime classpath."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    out_lines = p.stdout.splitlines()
    with open(log, "a") as out:
        out.write(p.stdout)
    cp = [ln for ln in out_lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources (build.sbt, src/main/scala/graft) are not next to "
             "ingestbench/; run from the root of a full checkout")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    run_dir = os.path.join(RUNS, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "spark-local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = ([java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "graft.ingestbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--dir", run_dir])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s; see {log}")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = [ln for ln in lines if ln.startswith("{")]
    detail = [ln for ln in lines if ln.startswith("detail ")]
    if not result:
        fail(f"{a.workload} exited {p.returncode} after {time.time() - t0:.0f} s "
             f"without a result; see {log}")
    for ln in detail:
        print(ln)
    print(result[-1])
    # the warehouse is only needed while the run checks it
    for d in os.listdir(run_dir):
        if d.startswith("setup-") or d in ("spark-local", "tmp", "spark-warehouse"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    sys.exit(0 if p.returncode == 0 else 1)


if __name__ == "__main__":
    main()
