"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own Scala sources into `.bench_build/classes` at the
checkout root, with the Scala compiler that ships among the Spark jars.

A stamp of every source's path and content makes a rebuild happen only when
a source changed. Run it alone with `python3 perfbench/build.py`.
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
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BENCH_SOURCES = os.path.join(HERE, "scala")
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory the repository's own build compiles against:
    the `unmanagedBase` that build.sbt names."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise BuildError(f"no build.sbt at {ROOT}")
    with open(sbt) as fh:
        m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read(), re.M)
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BuildError("build.sbt names no unmanagedBase holding the Spark jars")
    return m.group(1)


def sources():
    if not os.path.isdir(PROGRAM_SOURCES):
        raise BuildError(f"program sources missing: {PROGRAM_SOURCES}")
    found = sorted(glob.glob(os.path.join(PROGRAM_SOURCES, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(BENCH_SOURCES, "**", "*.scala"), recursive=True))
    if not any(f.startswith(PROGRAM_SOURCES) for f in found):
        raise BuildError("no program sources to build")
    return found


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the run classpath."""
    files = sources()
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(OUT, "classes")
    want = stamp(files)
    stamp_file = os.path.join(OUT, "STAMP")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return classes + os.pathsep + jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
