#!/usr/bin/env python3
"""Benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-digests <graft.Verify output dir>

Builds the harness in perfbench/ together with the program's sources
(sbt, offline; rebuilt only when a source changes), runs one workload
in a fresh JVM, and prints the result as one JSON object on the last
line of stdout. Exits 1 when an output is wrong, 2 when the run could
not be made. Workloads: netflix_ingest, lane_mix, catalog_dml.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(TARGET, "perfbench-build.json")
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "4g"
# Spark task threads: at most two, so that on a small shared host the
# JIT, GC and driver threads have cores of their own
THREADS = min(2, os.cpu_count() or 1)

ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(PROGRAM, "**", "*.scala"), recursive=True) +
        glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
        [os.path.join(HERE, "build.sbt"),
         os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark installation."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile once per source state; returns the runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    props = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false", "-Xmx2g",
             "-Dperfbench.sparkJars=" + spark_jars()]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true",
                  "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(props)
    proc = subprocess.run(
        ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = lines[-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    return classpath


def run_java(classpath, args):
    """Run the harness; returns (exit code, stdout lines)."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cmd = (["java"] + ADD_OPENS +
           ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-XX:ActiveProcessorCount=%d" % THREADS,
            "-Dperfbench.nproc=%d" % (os.cpu_count() or 1),
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + WORK,
            "-cp", classpath, "perfbench.Main",
            "--work", WORK, "--data", os.path.join(HERE, "data")] + args)
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded %d s" % JAVA_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def cleanup():
    """Keep the run's sample and span files; drop inputs and outputs."""
    for entry in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if entry not in ("samples.json", "spans.json"):
            path = os.path.join(WORK, entry)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
    # flush this run's writes now rather than during the next run
    os.sync()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-digests")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail("program sources not found under " + PROGRAM)
    if a.selftest:
        args = ["--selftest"]
    elif a.record_digests:
        args = ["--record-digests", os.path.abspath(a.record_digests)]
    elif a.workload in ("netflix_ingest", "lane_mix", "catalog_dml"):
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    else:
        fail("unknown or missing --workload")
    classpath = build()
    code, lines = run_java(classpath, args)
    cleanup()
    for line in lines:
        print(line)
    if a.selftest or a.record_digests:
        sys.exit(0 if code == 0 else 1)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or "correct" not in result:
        fail("the harness printed no result (exit code %d)" % code)
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
