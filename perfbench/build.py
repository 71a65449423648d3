"""Build file of the benchmark: compiles the library (``src/main/scala``) and
the benchmark's own Scala sources (``perfbench/scala``) with the Scala
compiler that ships in the Spark jar directory, into
``.bench_build/classes``.  The jar directory is the one the sbt build uses
(``unmanagedBase`` in ``build.sbt``), or ``$SPARK_JARS`` when set.

A stamp holding a digest of every source file skips the compile when nothing
changed.  Usage: ``python3 perfbench/build.py`` from the repository root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
SOURCES = ("src/main/scala", "perfbench/scala")


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("no unmanagedBase in build.sbt; set SPARK_JARS")
    return m.group(1)


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def _sources():
    out = []
    for top in SOURCES:
        for root, _, files in os.walk(top):
            out += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if any source changed; raise on a compile failure."""
    srcs = _sources()
    if not any(s.startswith("src/") for s in srcs):
        raise FileNotFoundError("library sources (src/main/scala) not found")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise FileNotFoundError(f"Spark jars not found at {jars}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4",
           "-d", CLASSES, "-cp", classpath()] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
