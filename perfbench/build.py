"""Compile the engine and the benchmark into one class directory.

The engine's Scala sources (src/main/scala) and the benchmark's own
(perfbench/src) are compiled together with the Scala compiler that ships
in Spark's jar directory, so the build needs no sbt and no network. The
output lives under .bench_build/perfbench and is reused while the sources
are unchanged (keyed by a hash of every source file).

    python3 perfbench/build.py      # prints the class directory
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


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                             recursive=True))
    if not prog:
        raise BuildError("engine sources (src/main/scala) not found next to perfbench/")
    if not bench:
        raise BuildError("benchmark sources (perfbench/src) not found")
    return prog + bench


def build():
    """Return the compiled class directory, compiling if sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(OUT, "classes-" + stamp)
    if os.path.isdir(classes):
        return classes, stamp, jars
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print("[perfbench] compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    os.rename(tmp, classes)
    return classes, stamp, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
