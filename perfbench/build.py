#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jars directory, into .bench_build/classes at the root
of the checkout. A stamp over every source file's path and content
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler found: set "
                         "SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                        "*.scala"), recursive=True))
    if not lib:
        raise BuildError("library sources missing: src/main/scala has no "
                         ".scala files (run from a full checkout)")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                           recursive=True))
    return lib + own


def stamp_of(files, jars):
    h = hashlib.sha256(os.path.realpath(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_opens():
    """The module opens Spark needs on JDK 17 outside spark-submit."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    return ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in pkgs]


def ensure_built():
    """Compiles if the sources changed; returns the run classpath."""
    jars = spark_jars()
    files = sources()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    stamp = stamp_of(files, jars)
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print("[perfbench] compiling %d sources" % len(files), file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        raise BuildError("compile failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print("[perfbench] build: %s" % e, file=sys.stderr)
        sys.exit(2)
