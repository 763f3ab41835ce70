"""Build file of the benchmark package: compiles the engine (``src/main/scala``)
together with the benchmark harness (``perfbench/src``) into
``.bench_build/classes`` with the Scala compiler that ships in
``$SPARK_HOME/jars``. The output is stamped with a digest of every source,
so an unchanged tree is not compiled twice.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
SCALA_JARS = ["scala-compiler", "scala-library", "scala-reflect"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME must name a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def scala_files():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the built benchmark; builds first if stale."""
    jars = spark_jars()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "stamp")
    files = scala_files()
    want = digest(files)
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        compiler = os.pathsep.join(
            glob.glob(os.path.join(jars, f"{j}-2.13.*.jar"))[0] for j in SCALA_JARS)
        args = os.path.join(build_dir(), "scalac-args")
        with open(args, "w") as fh:
            fh.write("\n".join(files))
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", out, "@" + args],
            check=True, stdout=sys.stderr)
        with open(stamp, "w") as fh:
            fh.write(want)
    return os.pathsep.join([out, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(classpath())
