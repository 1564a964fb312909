"""Builds the benchmark: compiles the engine (src/main/scala) together with
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jars directory, into .bench_build/classes.

A content hash of every source file is kept next to the classes, so a
rebuild happens only when a source changed. Run on its own with
`python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else beside a spark-submit on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jars with a Scala compiler: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return engine + bench


def stamp(files, jars):
    h = hashlib.sha256()
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the classes directory, compiling first if it is stale."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}", "-Xmx3g", "-Xss8m",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BuildError("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
