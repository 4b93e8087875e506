"""Build file of the benchmark: compiles the library sources (src/main/scala)
together with the benchmark harness (perfbench/src) with the Scala compiler
that ships in the Spark distribution, into .bench_build/classes.

The build is skipped when the sources hash to the stamp of the last build.
Run directly (`python3 perfbench/build.py`) or through perfbench/run.py.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise FileNotFoundError("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main, harness


def build(log=sys.stderr):
    """Compile if stale; return the classpath to run the harness with."""
    main, harness = sources()
    if not main:
        raise FileNotFoundError("no library sources under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    classpath = CLASSES + os.pathsep + jars
    h = hashlib.sha256()
    for p in main + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + harness))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", jars, "@" + argfile]
    print("perfbench: compiling %d sources" % (len(main) + len(harness)), file=log)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    build()
