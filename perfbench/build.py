"""Build file of the benchmark.

Compiles the engine (src/main/scala) together with the benchmark program
(perfbench/src) using the Scala compiler and Spark jars of the local Spark
distribution, found through SPARK_HOME or the spark-submit on PATH. Output
goes to .bench_build/perfbench/classes under the checkout root; a stamp of
the source contents skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("build: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars under {home}")
    return jars


def scala_files():
    files = []
    for top in SOURCES:
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {top}")
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not files:
        raise SystemExit("build: no Scala sources")
    return sorted(files)


def build():
    """Compiles if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    classes = os.path.join(OUT, "classes")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
