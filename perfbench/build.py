"""Build the engine and the benchmark harness from source.

Compiles src/main/scala (the engine) together with perfbench/scala (the
harness) using the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, or the install that spark-submit on PATH belongs to), so
no build tool or network is needed. Output goes to .bench_build/classes
under the checkout; a content hash of every source skips unchanged builds.

    python3 perfbench/build.py          # build if sources changed
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else that of the first
    spark-submit on PATH that sits in a full Spark install."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark install with a Scala compiler found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return engine + harness


def digest(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        print(res.stdout[-8000:], file=log)
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath


if __name__ == "__main__":
    build()
