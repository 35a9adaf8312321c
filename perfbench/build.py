"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark harness (perfbench/scala) with the Scala compiler
that ships in the Spark distribution, into .bench_build/perfbench/classes.

The build is skipped when a stamp of every source file and the Spark jar list
is unchanged, and serialized with a file lock.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    raise SystemExit("no Spark jars: set SPARK_HOME")


def sources():
    files = []
    for r in SOURCE_ROOTS:
        files += glob.glob(os.path.join(r, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def ensure():
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(SOURCE_ROOTS[0]):
        raise SystemExit(f"missing engine sources {SOURCE_ROOTS[0]}: run from the repo root")
    os.makedirs(BUILD_DIR, exist_ok=True)
    jars = spark_jars()
    classes = os.path.join(BUILD_DIR, "classes")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        h = hashlib.sha256()
        for f in sources():
            h.update(f.encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
        h.update("\n".join(sorted(os.listdir(jars))).encode())
        stamp = h.hexdigest()
        stamp_file = os.path.join(BUILD_DIR, "stamp")
        if os.path.isdir(classes) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp,
               "-nowarn", "-d", tmp] + sources()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("scalac failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
