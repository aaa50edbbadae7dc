"""Build file of the benchmark: compiles the product sources
(``src/main/scala``) together with the benchmark's own
(``perfbench/src/main/scala``) with the Scala compiler that ships with
Spark, into ``.bench_build/classes``, and copies the product resources
(``src/main/resources``) beside them.

A stamp over every input file's path and content makes a rebuild
happen only when an input changed.

    python3 perfbench/build.py          # build if stale, print the classes dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the root build.sbt uses
    (`unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          open(sbt).read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


def classpath(classes=CLASSES):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def files_under(dirs, suffix=""):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile if the stamp is stale; return the classes directory."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"perfbench: product sources not found under {SOURCE_DIRS[0]}")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"perfbench: Spark jars not found under {spark_jars()}")
    srcs = files_under(SOURCE_DIRS, ".scala")
    want = stamp(srcs + files_under([RESOURCES]))
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(spark_jars(), "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(ensure_built())
