"""Builds the engine and the benchmark harness from source with scalac.

The engine sources (src/main/scala) and the harness (perfbench/src) are
compiled together into <build dir>/classes against the Spark jars that
build.sbt names as its unmanagedBase, with no sbt and no network. A stamp of every source's content skips the
compile when nothing changed.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The jar directory the sbt build compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not glob.glob(os.path.join(m.group(1), "spark-sql_*.jar")):
        raise RuntimeError("no Spark jars: build.sbt names no unmanagedBase holding them")
    return m.group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not engine:
        raise RuntimeError("no engine sources under src/main/scala")
    if not harness:
        raise RuntimeError("no harness sources under perfbench/src")
    return engine + harness


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def ensure_built(log=sys.stderr):
    """Compiles if the sources changed; returns the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp_value = digest.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == stamp_value:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    # -Xss: scalac's typer recursion on the largest engine files needs a
    # deeper stack than the JVM default
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss64m", "-Xmx3g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", jars, "@" + argfile]
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(stamp_value)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except RuntimeError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
