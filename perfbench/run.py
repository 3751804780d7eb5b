#!/usr/bin/env python3
"""Connector-sync benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload ri_cold_sync --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt (once per source
state, cached under .bench_build/), then runs one benchmark JVM. All
scratch files go under .bench_build/ and are removed when the run ends.
The last line of stdout is the JSON result; the exit status is non-zero
if any output check failed or the run could not complete.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ri_cold_sync", "up_keyed_resync", "fanout_delivery")
BUILD_TIMEOUT_S = 720
RUN_LIMIT_S = 175  # a run must end within 180 s of its start...
BUILD_RUN_LIMIT_S = 890  # ...or within 900 s when it had to build first
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")

# Spark on JDK 17 outside spark-submit needs these (same list as the
# repository build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, f) for f in ("build.sbt", "project/build.properties")]
    files += [os.path.join(HERE, f) for f in ("build.sbt", "project/build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    digest = sources_digest()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = fh.read().split("\n", 1)
        if len(cached) == 2 and cached[0] == digest:
            return cached[1].strip(), False
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "build.log")
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log_path}")
        log.write(out)
    if proc.returncode != 0:
        fail(f"build failed ({proc.returncode}); see {log_path}")
    lines = [l for l in out.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if not lines:
        fail(f"no classpath in build output; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + cp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, True


def stop(proc):
    """Kill the process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    for need in ("src/main/scala/graft/jobs/Jobs.scala", "build.sbt", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    cp, built = build()
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    trace_out = os.path.join(BUILD_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
    # Steadiness over peak speed, measured on a 4-vCPU VM:
    # - a fixed, pre-touched heap: first-touch page faults on a growing heap
    #   made identical runs differ by up to 40%;
    # - C1 only: with C2, sync times kept falling for ~15 syncs and a run's
    #   median still differed by up to 17% between identical runs; C1 code
    #   is steady once set-up ends (absolute times are higher than a fully
    #   C2-warmed JVM's, the work measured is the same).
    cmd = ["java", "-Xmx3g", "-Xms3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(work, "data"), "--cores", str(cores),
        "--trace-out", trace_out,
    ]
    budget = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - start)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def on_signal(signum, _frame):
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=max(budget, 10))
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        fail("benchmark run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    result = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not result:
        print(f"[perfbench] run exited with {proc.returncode}", file=sys.stderr)
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
