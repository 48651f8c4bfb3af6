#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <pipelines|queries> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine (src/main/scala) together
with the benchmark (perfbench/src) using sbt, and records the runtime
classpath in .bench_build/; later runs start the JVM directly. Build and
run outputs stay under .bench_build/. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDENS = os.path.join(HERE, "goldens.tsv")
WORKLOADS = ("pipelines", "queries")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's
# build.sbt passes the same list to its forked tests and mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java(main_args):
    """The benchmark JVM's command line."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
                  f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  "-cp", cp, "graft.perfbench.Main",
                  "--data", DATA, "--goldens", GOLDENS, "--out", os.path.join(BUILD, "out")
                  ] + main_args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="re-record perfbench/goldens.tsv instead of running a workload")
    ap.add_argument("--oracle-dump", help="with --record-goldens: a Verify output directory "
                    "that tools/check_oracle.py passed on the same tables")
    a = ap.parse_args()
    if not a.record_goldens and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"), DATA, GOLDENS):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    build()
    shutil.rmtree(os.path.join(BUILD, "out", "tmp"), ignore_errors=True)
    for d in ("out", "tmp"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)

    if a.record_goldens:
        extra = ["--oracle-dump", os.path.abspath(a.oracle_dump)] if a.oracle_dump else []
        sys.exit(subprocess.run(java(["--record-goldens", GOLDENS] + extra), cwd=BUILD,
                                stdin=subprocess.DEVNULL).returncode)

    proc = subprocess.Popen(java(["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)]),
                            cwd=BUILD, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = stdout.splitlines()
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for l in lines:
        if l is not result:
            print(l)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark exited {proc.returncode} without a result")
    print(result)


if __name__ == "__main__":
    main()
