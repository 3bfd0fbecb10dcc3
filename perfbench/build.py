"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root)
together with the benchmark's own (`perfbench/src`) with the Scala 2.13
compiler that ships in the Spark distribution's jars, into
`.bench_build/perfbench/classes`. The build is skipped when a stamp of
every source file's path, size and mtime is unchanged.

Usage: python3 perfbench/build.py     (from the repository root)
The Spark distribution is $SPARK_HOME, or else the first one on PATH whose
bin/ holds spark-submit next to a jars/ directory.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the first Spark distribution on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.realpath(d)), "jars")
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    return "jars"


def classpath():
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def sources():
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(log=sys.stderr):
    """Compiles if needed; raises SystemExit(2) if the program is absent."""
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        print(f"perfbench: program sources not found under {PROGRAM_SRC}", file=log)
        raise SystemExit(2)
    if not os.path.isdir(spark_jars()):
        print(f"perfbench: no Spark jars at {spark_jars()} (set SPARK_HOME)", file=log)
        raise SystemExit(2)
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{s}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        print("perfbench: compilation failed", file=log)
        raise SystemExit(2)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
