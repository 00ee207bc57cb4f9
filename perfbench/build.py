"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in Spark's
jars, into .bench_build/classes. A stamp over every source file's content
makes a second call with unchanged sources a no-op.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(ROOT, "perfbench", "src")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def _spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on PATH is from."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


SPARK_JARS = os.path.join(_spark_home(), "jars")


def sources():
    out = []
    for base in (PROGRAM, HARNESS):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    """Compile when any source changed; returns the classpath."""
    if not os.path.isdir(PROGRAM):
        raise SystemExit(f"program sources not found at {PROGRAM}")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", CLASSES, "@" + argfile]
    print(f"building {len(srcs)} sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("compile failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
