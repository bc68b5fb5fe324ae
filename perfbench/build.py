"""Build file of the benchmark package.

Compiles the repository's Scala sources (`src/main/scala`) together with
the benchmark's own (`perfbench/src`) into one class directory, with the
Scala compiler and the jars of the Spark distribution in `$SPARK_HOME`
(the same jars the repository's sbt build compiles against). The output
goes to `perfbench/.build/classes-<hash of every source>`, so a tree
whose sources are unchanged is not rebuilt.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = {"gates.tsv": os.path.join("perfbench", "gates.tsv")}
SCALAC_OPTS = ["-nowarn", "-Ybackend-parallelism", "4"]


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, or the jars of the Spark whose `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark 4 distribution: set SPARK_HOME (its jars/ holds the compiler)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def classpath():
    return os.path.join(spark_jars(), "*")


def sources():
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not os.path.isdir(SOURCE_DIRS[0]) or not found:
        raise BuildError("no Scala sources under src/main/scala: run from a checkout of the repository")
    return sorted(found)


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in srcs + [os.path.join(HERE, r) for r in RESOURCES]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = "%s.tmp-%d" % (out, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-d", tmp] + SCALAC_OPTS + ["@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for src, dst in RESOURCES.items():
        os.makedirs(os.path.dirname(os.path.join(tmp, dst)), exist_ok=True)
        shutil.copyfile(os.path.join(HERE, src), os.path.join(tmp, dst))
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and ".tmp-" not in old:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    try:
        os.rename(tmp, out)
    except OSError:
        # another run built the same sources first
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("build failed: %s" % e)
