"""Build file of the serving benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`servebench/src`)
with the Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes` at the repository root.

    python3 servebench/build.py

Rebuilds only when a source file changed since the last build.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SCALA = "2.13.17"


def find_spark_jars():
    """Jar directory of the Spark installation at $SPARK_HOME, else of the
    first `spark-submit` on PATH that sits in a full installation (one whose
    jar directory holds the Scala compiler)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-%s.jar" % SCALA)):
            return jars
    return ""


SPARK_JARS = find_spark_jars()


def sources():
    found = []
    for base in ("src/main/scala", "servebench/src"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def spark_jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))) if SPARK_JARS else []


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src/main/resources")]
                           + spark_jars())


def stamp(srcs):
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    srcs = sources()
    if not srcs or not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        raise SystemExit("build: engine sources not found under %s" % ROOT)
    jars = spark_jars()
    if not jars:
        raise SystemExit("build: no Spark installation with Scala %s found" % SCALA)
    want = stamp(srcs)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, "scala-%s-%s.jar" % (n, SCALA))
                               for n in ("compiler", "library", "reflect"))
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-cp", os.pathsep.join(jars)] + srcs))
    rc = subprocess.call(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                          "-Djava.io.tmpdir=" + OUT, "-cp", compiler,
                          "scala.tools.nsc.Main", "@" + args_file],
                         stdout=sys.stderr)
    if rc != 0:
        raise SystemExit("build: scalac failed with code %d" % rc)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


if __name__ == "__main__":
    build()
