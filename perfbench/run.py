#!/usr/bin/env python3
"""Run one benchmark workload against the library sources of this checkout.

Usage (from the root of the checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run compiles the library (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) with sbt into the build directory
(`$CARGO_TARGET_DIR`, else `.bench_build`), and later runs reuse it until a
source file changes. The run itself is one JVM; its standard output is
passed through, and its last line is the result JSON. Spark's log goes to
`run.log` in the build directory. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# the Spark installation: $SPARK_HOME, else the one spark-submit belongs to
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = []
    for pattern in ("src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
                    "perfbench/build.sbt", "perfbench/project/build.properties"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the whole group when it
    ends, times out or this script is terminated, so no child outlives the
    benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def build(build_dir):
    files = sources()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("no library sources under src/main/scala: run from the root of a checkout")
    want = stamp(files)
    stamp_file = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classes
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, BENCH_BUILD_DIR=build_dir, SPARK_JARS=SPARK_JARS,
               COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=log, stderr=log,
                         stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed ({code}); see {os.path.join(build_dir, 'build.log')}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


def main():
    # turn SIGTERM into SystemExit so that run_group's cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(build_dir)
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # C1 only: with C2 the JVM kept compiling for over a minute and pass
    # times fell by half within one run; C1 code is steady after the warm pass
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--work", work]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its scratch
    # files in the build directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log_path = os.path.join(build_dir, "run.log")
    with open(log_path, "w") as log:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=sys.stdout, stderr=log,
                         stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}", 3)
    if code != 0:
        fail(f"run exited {code}; see {log_path}", code)


if __name__ == "__main__":
    main()
