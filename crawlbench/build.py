"""Build file of the crawl benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (crawlbench/src) with the Scala compiler that ships in the
Spark distribution's jar directory (the `unmanagedBase` that build.sbt
names, or $SPARK_JARS_DIR), into .bench_build/classes-<digest>. The
digest covers every source file, so an edited tree builds afresh (and the
older build is removed) and an unchanged one is reused.

    python3 crawlbench/build.py        # prints the classes directory
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
OUT = os.path.join(ROOT, ".bench_build")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("crawlbench: no engine sources under src/main/scala; "
                         "run from the root of a checkout")
    return engine + bench


def spark_jars():
    """The Spark jar directory the engine's own build compiles against."""
    if "SPARK_JARS_DIR" in os.environ:
        return os.environ["SPARK_JARS_DIR"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise SystemExit("crawlbench: build.sbt names no unmanagedBase; set SPARK_JARS_DIR")
    return found.group(1)


def classpath():
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"crawlbench: no Scala compiler in {jars}")
    return os.path.join(jars, "*")


def build():
    """Returns the classes directory, compiling first when it is missing."""
    srcs = sources()
    cp = classpath()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(OUT, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"crawlbench: compilation failed ({done.returncode})")
    os.rename(tmp, classes)
    for stale in glob.glob(os.path.join(OUT, "classes-*")):
        if stale != classes:
            shutil.rmtree(stale, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
