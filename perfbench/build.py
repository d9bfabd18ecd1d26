"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark's JVM harness (`perfbench/scala`) with the Scala
compiler that ships in Spark's jar directory, into `perfbench/.build`.

The output directory is keyed by a hash of every source file, so a
checkout builds once and later runs reuse the classes.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")
BUILD_DIR = os.path.join(HERE, ".build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory the program's own
    build file names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_ok")):
        return out
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    # the compiler must match the Scala library the program runs on: Spark's
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("the Scala compiler, library and reflect jars are not among the Spark jars")
    argfile = os.path.join(out, "_sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join(jars), "@" + argfile]
    print(f"building {len(srcs)} sources into {os.path.relpath(out, ROOT)}", file=log)
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise SystemExit("compilation failed")
    open(os.path.join(out, "_ok"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
