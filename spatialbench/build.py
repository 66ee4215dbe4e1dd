"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark driver (`spatialbench/src`) with the Scala compiler that ships in
the Spark jar directory, into `.bench_build/classes`. Rebuilds only when a
source file changed. Run directly to build: `python3 spatialbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the engine build's
    `unmanagedBase` (build.sbt)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("engine sources (src/main/scala) not found under %s" % ROOT)
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def ensure():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp, False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars_cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars_cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise BuildError("scalac failed with code %d" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp, True


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        sys.stderr.write("build: %s\n" % e)
        sys.exit(2)
