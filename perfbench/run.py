#!/usr/bin/env python3
"""Runs one workload of the projspark benchmark and prints its result.

    python3 perfbench/run.py --workload join_hot --seed 42 --seconds 10 --trace 0

Builds the library and the driver when their sources changed (see
build.py), starts one JVM with Spark in local mode on as many task
threads as this process may use, relays the JVM's table to stdout and
prints the result object as the last line.  Exits non-zero, without a
result, when the library sources are absent, the build fails, the run
fails or it exceeds its time limit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_LIMIT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when it is not started by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    threads = len(os.sched_getaffinity(0))
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    out = os.path.join(build.OUT, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # class-data sharing: the first run archives the classes it loaded, later
    # runs map them instead of loading them again (session start 5 s -> 2 s)
    if os.path.exists(build.CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={build.CDS_ARCHIVE}")
    # JVM warnings (the archive dump lists classes it skips) go to stderr,
    # so stdout holds only the table and the result
    cmd += ["-Xlog:all=warning:stderr", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--threads", str(threads), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s and was stopped", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: driver exited with {code} and no result", file=sys.stderr)
        return 4
    with open(out) as fh:
        result = json.load(fh)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
