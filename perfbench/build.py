"""Build file of the benchmark: compiles the program's main sources together
with the benchmark's own Scala sources into one class directory.

The compiler is the Scala 2.13 compiler that ships among the Spark jars, so
the build needs neither sbt nor a dependency resolver. A stamp holding the
hash of every compiled source skips the build when nothing changed.

    python3 perfbench/build.py          # from the root of a checkout
"""
import fcntl
import glob
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "stamp")
SCALA_VERSION = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def program_sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"build: no program sources at {main}/graft; run from the root of a checkout")
    return sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))


def bench_sources():
    return sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def source_hash(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root):
    """Runtime class path: the compiled classes plus every Spark jar."""
    return os.pathsep.join([CLASSES] + spark_jars())


def ensure_built(root, log=sys.stderr):
    files = program_sources(root) + bench_sources()
    digest = source_hash(files)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
            return
        jars = spark_jars()
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        if len(compiler) != 3:
            raise SystemExit("build: scala-compiler/library/reflect jars not found among the Spark jars")
        tmp = CLASSES + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        args_file = os.path.join(BUILD_DIR, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(files) + "\n")
        t0 = time.time()
        print(f"build: compiling {len(files)} sources", file=log, flush=True)
        proc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
             "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + args_file],
            stdout=log, stderr=log)
        if proc.returncode != 0:
            raise SystemExit(f"build: scalac failed with exit code {proc.returncode}")
        subprocess.run(["rm", "-rf", CLASSES], check=True)
        os.rename(tmp, CLASSES)
        with open(STAMP, "w") as fh:
            fh.write(digest + "\n")
        print(f"build: done in {time.time() - t0:.1f}s", file=log, flush=True)


if __name__ == "__main__":
    ensure_built(os.getcwd())
