#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala` at the repository root) together
with the benchmark's own sources (`perfbench/src`) into
`perfbench/.build/classes`, with the Scala 2.13 compiler that ships in
Spark's jar directory. A stamp of every source file's content and of the
jar list makes the build a no-op when nothing changed, so only the first
run in a checkout pays for it.

    python3 perfbench/build.py          # build if stale, print the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_homes():
    """$SPARK_HOME, the install `spark-submit` on the PATH belongs to, pyspark's own jars."""
    yield os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if submit:
        yield os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    try:
        import pyspark
        yield os.path.dirname(pyspark.__file__)
    except ImportError:
        pass


def spark_jars():
    for home in spark_homes():
        if home and os.path.isdir(os.path.join(home, "jars")):
            jars = sorted(os.path.join(home, "jars", j) for j in os.listdir(os.path.join(home, "jars"))
                          if j.endswith(".jar"))
            if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
                return jars
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def ensure():
    """Build if stale; return the classpath (classes dir + Spark jars)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.isdir(CLASSES):
        return [CLASSES] + jars
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.pathsep.join(jars)
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-classpath", cp, "@" + argfile], stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return [CLASSES] + jars


if __name__ == "__main__":
    print(ensure()[0])
