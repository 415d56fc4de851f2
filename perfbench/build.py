#!/usr/bin/env python3
"""Build file of the benchmark: compiles the projspark library from
`src/main/scala` and the benchmark driver from `perfbench/src` with the
Scala compiler that ships in Spark's jar directory, into two jars under
`.bench_build/perfbench/`.  A build whose sources are unchanged is reused.

    python3 perfbench/build.py        # prints the class path on stdout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
# class-data-sharing archive of the run JVM; stale once a jar changes
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else "jars"
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars in {jars} (set SPARK_HOME)")
    return jars


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, files, dest, log):
    """Compiles `files` into the jar `dest`."""
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    classes = dest + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath,
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    os.remove(argfile)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}) for {dest}")
    # jars, not class directories: the JVM archives classes only from jars
    with zipfile.ZipFile(dest + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for top, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(top, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(dest + ".tmp", dest)
    shutil.rmtree(classes)


def build(log=sys.stderr):
    """Returns the run-time class path, compiling what changed."""
    lib_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not lib_src:
        raise BuildError(f"no library sources under {os.path.join(ROOT, 'src/main/scala')}")
    bench_src = sources(os.path.join(BENCH, "src"))
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    os.makedirs(OUT, exist_ok=True)
    lib_out = os.path.join(OUT, "projspark.jar")
    bench_out = os.path.join(OUT, "perfbench.jar")
    lib_key = digest(lib_src, jars)
    bench_key = digest(bench_src, lib_key)
    for key, dest, files, cp in (
            (lib_key, lib_out, lib_src, jar_cp),
            (bench_key, bench_out, bench_src, os.pathsep.join([lib_out, jar_cp]))):
        stamp = dest + ".stamp"
        if os.path.isfile(dest) and os.path.exists(stamp) and open(stamp).read() == key:
            continue
        print(f"perfbench: compiling {len(files)} sources into {os.path.relpath(dest, ROOT)}",
              file=log, flush=True)
        if os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
        scalac(jars, cp, files, dest, log)
        with open(stamp, "w") as fh:
            fh.write(key)
    return os.pathsep.join([bench_out, lib_out, jar_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(1)
