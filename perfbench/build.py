"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/src) into .bench_build/classes
with the Scala compiler that ships in Spark's jar directory, so the
benchmark needs neither sbt nor network access. A stamp over every source
file's path and content skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    # the same default Spark install the engine's build.sbt compiles against
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars")


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if stale; returns the runtime classpath."""
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jar directory {jars} not found (set SPARK_HOME)")
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", f"{jars}/*", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
