#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's Scala code (`perfbench/scala`) with the Scala compiler that
ships among the Spark jars, and packs the classes and the engine's resources
into `.bench_build/perfbench.jar`.

The Spark jar directory is the one the repository's `build.sbt` names in
`unmanagedBase` (or `$SPARK_HOME/jars`). Rebuilds only when a source file
changed. Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(OUT, "classes.jsa")


def spark_jars():
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return srcs + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build():
    """Returns the runtime classpath, compiling first if sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        with open(s, "rb") as f:
            h.update(s.encode() + b"\0" + f.read())
    classes = os.path.join(OUT, "classes")
    jar = os.path.join(OUT, "perfbench.jar")
    stamp = os.path.join(OUT, "build.stamp")
    cp = jar + os.pathsep + os.path.join(jars, "*")
    if (os.path.exists(stamp) and os.path.exists(jar) and
            open(stamp).read() == h.hexdigest()):
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    # an explicit -classpath keeps the working directory (whose
    # perfbench/scala would read as a package) off the compile classpath
    jarlist = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jarlist,
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    # a jar, not a class directory: the JVM's class-data archive
    # (see run.py) only covers classes loaded from jars
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in os.walk(classes):
            for f in fs:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
