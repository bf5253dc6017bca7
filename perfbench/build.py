#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala of the checkout) together with the benchmark's own
(perfbench/src) into one class directory, with the Scala compiler that
ships in Spark's jar directory. Nothing is downloaded.

    python3 perfbench/build.py        # build (or reuse) and print the classpath

The output lives under .bench_build/perfbench and is reused while the
sources are unchanged (a hash of their paths and contents is kept next to
the classes).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("build: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources(root=ROOT):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory missing: {d}")
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def ensure(root=ROOT):
    """Compile when the sources changed; return the run classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "sources.sha256")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(stamp) and open(stamp).read().strip() == digest:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jar_glob = os.path.join(jars, "*")
    jtmp = os.path.join(out, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}", "-Xss8m",
           "-Xmx2g", "-cp", jar_glob,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", jar_glob] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return cp


if __name__ == "__main__":
    print(ensure())
