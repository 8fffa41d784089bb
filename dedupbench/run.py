#!/usr/bin/env python3
"""Benchmark of the graft dedup engine: batch dedup, cached regroup and
incremental ingest, one workload per invocation.

Run from the repository root:

    python3 dedupbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

It compiles the engine (src/main/scala) together with the harness
(dedupbench/src) into .bench_build/, starts one JVM at local[4], and prints
detail lines followed by one JSON result line. See dedupbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_dedup", "regroup_cached", "incremental_ingest")

# Pinned once per invocation and recorded in the output.
CPUS = 4
SHUFFLE_PARTITIONS = 4
HEAP = "3g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"dedupbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the engine builds against: $SPARK_HOME/jars,
    else the build.sbt `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME or run from the repository root")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + harness


def build(jars):
    """Compile engine + harness once per source tree (keyed by content)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes", h.hexdigest()[:16])
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "_BUILT")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", tmp, "-cp", cp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("build failed:\n" + r.stdout[-4000:])
        open(os.path.join(tmp, "_BUILT"), "w").close()
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(BUILD, "classes", "*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
        return out


def reap_stale_runs():
    """Remove run directories whose JVM is gone (a crashed or killed run)."""
    for d in glob.glob(os.path.join(BUILD, "runs", "*")):
        try:
            pid = int(os.path.basename(d).split("-")[0])
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--fail-every", type=int, default=0,
                    help="make every Nth operation one the engine refuses (self-check)")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    reap_stale_runs()
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # A fixed, pre-touched heap keeps first-touch page faults out of the
    # timed operations; -XX:-UsePerfData writes no hsperfdata file outside
    # the checkout.
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", f"{classes}:{os.path.join(jars, '*')}", "dedupbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--run-dir", run_dir,
              "--cache-dir", os.path.join(BUILD, "synth"),
              "--cpus", str(CPUS), "--partitions", str(SHUFFLE_PARTITIONS),
              "--fail-every", str(a.fail_every)])
    result = None
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                 env=env, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"JVM exceeded {JVM_TIMEOUT_S} s", 124)
        for line in out.splitlines():
            if line.startswith("DEDUPBENCH_DETAIL "):
                print(line[len("DEDUPBENCH_DETAIL "):])
            elif line.startswith("DEDUPBENCH_RESULT "):
                result = json.loads(line[len("DEDUPBENCH_RESULT "):])
        if p.returncode != 0 or result is None:
            with open(log_path) as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            if result is not None:
                print(json.dumps(result))
            fail(f"JVM exited {p.returncode}", p.returncode or 1)
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
