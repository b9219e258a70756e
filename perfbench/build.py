"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark sources (perfbench/src) into one class directory.

The compiler is the scala-compiler jar that ships with Spark, so the build
needs no network and no sbt: `python3 perfbench/build.py` from the root of a
checkout. The output goes to $CARGO_TARGET_DIR (default `.bench_build`) and is
rebuilt only when a source file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_home():
    """$SPARK_HOME, or the first Spark installation on PATH that has jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(d)
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
SCALAC_OPTS = ["-deprecation", "-nowarn", "-release", "17"]


def spark_jars():
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found under {SPARK_JARS} (set SPARK_HOME)")
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def scala_sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
    out = []
    for d in dirs:
        found = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".scala")]
        if not found:
            raise SystemExit(f"build: no Scala sources under {os.path.relpath(d, ROOT)}")
        out += sorted(found)
    return out


def classes_dir():
    """Compile if any source changed; return the class directory."""
    srcs = scala_sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-reflect-", "scala-library-"))]
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(SCALAC_OPTS + ["-classpath", os.pathsep.join(jars), "-d", tmp] + srcs))
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    rc = subprocess.call(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                          "scala.tools.nsc.Main", "@" + argfile], stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"build: scalac exited with {rc}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(classes_dir())
