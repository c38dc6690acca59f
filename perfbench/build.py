#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution's jars, into perfbench/.build/<hash>/.

The output directory is keyed by a hash of every source file, so a
changed program is rebuilt and an unchanged one is reused.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spark_jars():
    """The jars of the Spark distribution named by SPARK_HOME, or else of
    the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler jar "
                         "(set SPARK_HOME)")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"perfbench: program sources not found at {program}")
    files = sorted(glob.glob(os.path.join(program, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    out_root = os.path.join(BENCH, ".build")
    out = os.path.join(out_root, digest.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "done")):
        return classes, jars
    if os.path.isdir(out_root):
        shutil.rmtree(out_root)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
    os.rename(tmp, classes)
    open(os.path.join(out, "done"), "w").close()
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
