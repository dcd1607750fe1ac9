"""Build file of the benchmark: compiles the program's sources
(``src/main/scala``) together with the benchmark runner (``perfbench/src``)
with the Scala compiler that ships in the Spark distribution, into
``.bench_build/classes`` of the checkout. A stamp of the sources' sha256
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    """The Spark distribution's jar directory: ``$SPARK_HOME/jars``, else the
    one beside the ``spark-submit`` found on ``PATH``."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: neither SPARK_HOME nor spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of a checkout")
    return files + sorted(glob.glob("perfbench/src/*.scala"))


def build():
    """Compile if the sources changed; return the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-d", classes, "-classpath", f"{jars}/*", "-nowarn"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        sys.exit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
