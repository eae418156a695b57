"""The benchmark's build: compiles graft's main sources together with the
harness in perfbench/scala into one class directory, with the Scala
compiler that ships in the Spark distribution.

    python3 perfbench/build.py        # from the repository root

The output lives under .bench_build/ (or $CARGO_TARGET_DIR when set) and
is reused while the sources, the Spark jars and the JVM stay the same.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    if not graft:
        raise BuildError(f"graft sources not found under {os.path.relpath(GRAFT_SRC, ROOT)}")
    if not bench:
        raise BuildError("harness sources not found under perfbench/scala")
    return graft + bench


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def classpath(classes):
    return os.pathsep.join([classes] + spark_jars())


def build(log=sys.stderr):
    """Compiles when the inputs changed; returns the class directory and the
    digest of the inputs (sources, Spark jars, JVM)."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    for j in jars:
        digest.update(os.path.basename(j).encode())
    digest.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    stamp = digest.hexdigest()

    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-classpath", os.pathsep.join(jars), "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
