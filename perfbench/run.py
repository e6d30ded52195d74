#!/usr/bin/env python3
# Copyright (c) 2026 graft contributors
# SPDX-License-Identifier: Apache-2.0
"""Medallion-pipeline benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>]

Builds the program and the benchmark from source with sbt (cached under
.bench_build/, rebuilt when a source changes), runs one workload in one
JVM, forwards its `#` report lines, and prints the result object as the
last line of standard output. Exits non-zero, without a result, when the
build or the run fails; exits 1 after printing the result when an output
check failed.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The JVM runs with the root build's options (module opens, code cache,
# session time zone). Its heap comes from the root build's own knob,
# SPARK_DRIVER_MEM, which the root build defaults to 8g; the benchmark
# defaults it to 3g because the machine's memory may be shared and a run's
# working set is small (spark.gc_s and spark.spill_bytes stay near 0).
DRIVER_MEM = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")


def sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        roots += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in sorted(os.walk(r)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def build():
    """Compile with sbt unless the build is current; return the classpath
    and the JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "java-options.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    stamp += env["SPARK_DRIVER_MEM"]
    if all(map(os.path.isfile, (cp_file, opts_file, stamp_file))):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh, open(opts_file) as fo:
                    return fh.read(), fo.read().split("\n")
    os.makedirs(BUILD, exist_ok=True)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
             "compile", "writeJavaOptions", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(os.path.join(HERE, "target", "java-options.txt")) as fh:
        opts = [l for l in fh.read().splitlines() if l]
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(opts_file, "w") as fh:
        fh.write("\n".join(opts))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return cps[-1], opts


def expected_metrics(trace):
    with open(SPEC) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    help="local[N] parallelism (default: all cores)")
    a = ap.parse_args()
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json not found at the repository root")
    want = expected_metrics(a.trace)
    cp, jvm_opts = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + jvm_opts + [
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main", "--workload", a.workload,
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--traces", os.path.join(BUILD, "traces")]
    if a.cores:
        cmd += ["--cores", str(a.cores)]
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    result = None
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True)
    # the watchdog kills the JVM's whole process group at the deadline
    watchdog = threading.Timer(RUN_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
    watchdog.start()
    try:
        for line in p.stdout:
            if line.startswith("RESULT "):
                result = line[len("RESULT "):].strip()
            else:
                print(line, end="", flush=True)
        rc = p.wait()
    finally:
        timed_out = not watchdog.is_alive()
        watchdog.cancel()
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if result is None:
        fail(f"run failed (exit {rc}) without a result")
    parsed = json.loads(result)
    got = set(parsed["metrics"])
    if parsed["correct"] and got != want:
        fail(f"metrics {sorted(got ^ want)} disagree with BENCHMARK.json")
    print(result, flush=True)
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
