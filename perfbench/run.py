"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source (see build.py), then runs one
workload in one JVM on a local[nproc] Spark session. The last line of stdout is
the JSON result; the exit code is non-zero when an output check failed.
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark on JDK 17 needs the module opens spark-submit would inject.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main(argv):
    self_test = "--self-test" in argv
    if not self_test and "--workload" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    os.makedirs(build.BUILD, exist_ok=True)
    try:
        classes = build.classes_dir()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 3
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])]
    if self_test:
        cmd += ["perfbench.SelfTest"]
    else:
        cmd += ["perfbench.Main", "--work", os.path.join(build.BUILD, "work"),
                "--out", os.path.join(build.BUILD, "results")] + argv
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run: timed out after {TIMEOUT_S} s", file=sys.stderr)
        return 4


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
