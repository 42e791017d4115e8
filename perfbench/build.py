"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own sources (`perfbench/scala`) into one
class directory, with the Scala compiler that ships in the Spark
distribution's `jars/` directory (the same jars the program runs on).

The class directory is keyed by a hash of every source file, so an
unchanged tree is compiled once per build directory.

usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: SPARK_HOME, else that of a
    spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"program sources not found under {program}")
    files = []
    for top in (program, os.path.join(HERE, "scala")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(build_dir):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + [jars]:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        if os.path.isfile(path):
            with open(path, "rb") as f:
                h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    jar_list = sorted(glob.glob(os.path.join(jars, "*.jar")))
    cp = os.pathsep.join([classes] + jar_list)
    if os.path.isdir(classes):
        return cp
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jar_list),
              "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
              "-classpath", os.pathsep.join(jar_list), "@" + argfile]
    try:
        done = subprocess.run(scalac, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=800)
    finally:
        os.remove(argfile)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {done.returncode}")
    publish(tmp, classes)
    return cp


def publish(tmp, final):
    """Rename a finished output directory into place; if a concurrent run
    published the same one first, keep theirs."""
    try:
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    try:
        print(build(os.path.abspath(out)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
