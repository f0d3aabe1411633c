"""Build of the benchmark: compiles the program (src/main/scala) together
with the harness (perfbench/src) into .bench_build/perfbench/classes with the
Scala compiler that ships in the Spark distribution's jars ($SPARK_HOME/jars).
No sbt, so the timed process starts as a plain `java -cp` and its stdout
carries no prefix.

A stamp over every source path and content skips the compile when nothing
changed. Run directly (`python3 perfbench/build.py`) to build ahead of time.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise RuntimeError("SPARK_HOME is not set")
    return home


# The module options spark-submit would add on JDK 17.
ADD_OPENS = [arg for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise RuntimeError(f"program sources not found at {program}")
    found = []
    for base in (program, os.path.join(BENCH_DIR, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def jars():
    spark_jars = os.path.join(_spark_home(), "jars")
    found = sorted(glob.glob(os.path.join(spark_jars, "*.jar")))
    if not found:
        raise RuntimeError(f"no jars in {spark_jars}")
    return found


def classpath():
    return os.pathsep.join([CLASSES] + jars())


def _stamp(srcs):
    h = hashlib.sha256()
    for path in srcs + jars():
        h.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile unless the stamp shows the classes are current."""
    srcs = sources()
    stamp = _stamp(srcs)
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs))
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=log)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(jars()),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", str(os.cpu_count()),
           "-classpath", os.pathsep.join(jars()), "-d", CLASSES, "@" + args_file]
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        raise RuntimeError(f"compile failed with exit code {done.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    ensure_built()
