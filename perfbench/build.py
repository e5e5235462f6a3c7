"""Build file of the benchmark: compiles the program's sources and the
harness with the Scala compiler that ships with Spark, and writes the
runtime classpath once. sbt stays out of every run.

    python3 perfbench/build.py      # prints the classpath file

Output goes to `.bench_build/` at the root of the checkout and is reused
while the sources it was built from are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "harness")


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the directory
    the sbt build names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        for line in f:
            if line.startswith("unmanagedBase"):
                return line.split('file("')[1].split('")')[0]
    sys.exit("build: set SPARK_HOME")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(srcs, classpath, dest, stamp):
    """scalac `srcs` into `dest` unless `dest` already holds that build."""
    stamp_file = os.path.join(dest, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    args_file = dest + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", classpath,
           "-d", dest, "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed ({r.returncode}) for {dest}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Returns the path of a file holding the runtime classpath."""
    main = _sources(MAIN_SRC)
    if not main or not os.path.isdir(spark_jars()):
        sys.exit("build: program sources or Spark jars not found")
    main_cls = os.path.join(OUT, "classes", "main")
    harness_cls = os.path.join(OUT, "classes", "harness")
    main_stamp = _digest(main)
    _compile(main, "", main_cls, main_stamp)
    _compile(_sources(HARNESS_SRC), main_cls, harness_cls,
             _digest(_sources(HARNESS_SRC), main_stamp))
    cp = [harness_cls, main_cls]
    if os.path.isdir(MAIN_RES):
        cp.append(MAIN_RES)
    cp.append(os.path.join(spark_jars(), "*"))
    cp_file = os.path.join(OUT, "classpath.txt")
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(cp))
    return cp_file


if __name__ == "__main__":
    print(build())
