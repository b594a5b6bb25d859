"""Build file of the benchmark: compiles the engine's `src/main/scala` and
the harness in `perfbench/scala` into one class directory with the Scala
compiler that ships among Spark's jars. A build is reused while the
sources are byte-identical (a content hash is kept next to the classes).

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
# No hsperfdata file in the system temp directory: a run writes only
# inside its checkout.
JVM_FLAGS = ["-XX:-UsePerfData"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    files = []
    for base in ("src/main/scala", "perfbench/scala"):
        files += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in files):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return sorted(files)


def build(root):
    """Returns (class directory, source hash), compiling when stale."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), *JVM_FLAGS, "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


if __name__ == "__main__":
    print(build(os.getcwd())[0])
