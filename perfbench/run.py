#!/usr/bin/env python3
"""Benchmark runner for the graft stock pipeline and curation funnel.

Run from the repository root:

    python3 perfbench/run.py --workload <dashboard|curation> \
        --seed <n> --seconds <s> --trace <0|1> [--corrupt]

It builds the repository and the benchmark harness from source with sbt
(once per source state: a digest of the sources decides when to rebuild),
then runs one JVM for the workload. The last line of standard output is the
result record: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the run also writes its spans and per-layer summary under
perfbench/out/. --corrupt damages one output on purpose; the run must then
report correct: false.

Fixed environment, the same on both sides of any comparison: Spark
local[N] with N = the machine's CPU count, N shuffle partitions, UTC session
time zone, a JVM heap fixed by HEAP below, and a warm-up before timing.
See NOTES.md for the workloads, metrics and checks.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
HEAP = "3g"
# a first run (sbt build, class-archive pass, the run itself) stays under 900 s
BUILD_TIMEOUT_S = 540
RUN_TIMEOUT_S = 170
WORKLOADS = ("dashboard", "curation")

# Spark on JDK 17 needs these opens when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads: both builds' definitions and sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def jvm_command(cp, *args, archive=None, dump=None):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xlog:disable",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    if dump:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    elif archive and os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", cp, "graftbench.Main"] + list(args)


def run_jvm(cmd, work, timeout):
    """Runs one benchmark JVM in `work`; returns (returncode, stdout, stderr path)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = cmd[:1] + [f"-Djava.io.tmpdir={work}"] + cmd[1:]
    err_path = os.path.join(work, "stderr.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None, "", err_path
    return proc.returncode, stdout, err_path


def build():
    """Compiles if the sources changed since the last build. Returns the
    classpath (as jars) and the class-data-sharing archive of a warm-up run,
    which takes JVM class loading out of every run's start-up.
    """
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == digest and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp, archive
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "export Runtime/fullClasspathAsJars"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})", 3)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        fail(f"build failed (log: {log})", 3)
    cp = lines[-1].strip()
    # the archive records the classes a warm-up of every workload loads
    work = os.path.join(BENCH, ".work", f"archive-{os.getpid()}")
    os.makedirs(work)
    try:
        code, _, _ = run_jvm(jvm_command(cp, "--warm-only", "--seed", "0", "--work", work,
                                         "--launched-ms", "0", dump=archive),
                             work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.exists(archive):
        os.remove(archive)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, archive


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with open(os.path.join(BENCH, ".work", "build.lock"), "w") as lock:
        # runs started together build once
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, archive = build()
    work = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(BENCH, "out", f"{a.workload}-seed{a.seed}")
    cmd = jvm_command(cp, "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
                      "--out", out, "--launched-ms", str(time.time() * 1000),
                      *(["--corrupt"] if a.corrupt else []), archive=archive)
    try:
        code, stdout, err_path = run_jvm(cmd, work, RUN_TIMEOUT_S)
        if code is None:
            fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
        with open(err_path) as err:
            notes = [l.rstrip() for l in err if l.startswith("perfbench")]
        lines = stdout.splitlines()
        if code != 0 or not lines:
            with open(err_path) as err:
                sys.stderr.write("".join(err.readlines()[-40:]))
            fail(f"{a.workload} exited with code {code}", 5)
        result = json.loads(lines[-1])
        for n in notes:
            print(n, file=sys.stderr)
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
