#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory, packs them into
`.bench_build/perfbench/perfbench.jar`. A stamp of every source's
content skips the build when nothing changed.

Usage: python3 perfbench/build.py      (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import fcntl
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars_dir() -> str:
    home = os.environ.get("SPARK_HOME") or os.path.join(os.sep, "opt", "spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jar directory at {jars} (set SPARK_HOME)")
    return jars


def classpath() -> str:
    return os.pathsep.join(sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar"))))


def sources() -> list:
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}: "
                         "run from the root of a full checkout")
    srcs = []
    for base in (ENGINE_SRC, BENCH_SRC):
        srcs += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(srcs)


def stamp(srcs: list) -> str:
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags() -> list:
    """Flags every benchmark JVM runs with (Spark on JDK 17 needs the
    module opens that spark-submit normally injects; no perf-data file in
    the system temp directory)."""
    return (["-Xmx3g", "-Xss16m", "-XX:-UsePerfData"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])


def write_jar() -> None:
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))


def build(quiet: bool = False) -> str:
    """Build if needed (one build at a time per checkout); returns the
    runtime class path."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(quiet)


def _build(quiet: bool) -> str:
    srcs = sources()
    want = stamp(srcs)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp = JAR + os.pathsep + classpath()
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars_dir()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                               for n in ("compiler", "library", "reflect"))
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    if not quiet:
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
         "scala.tools.nsc.Main",
         "-nowarn", "-classpath", classpath(), "-d", CLASSES, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    write_jar()
    shutil.rmtree(CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
