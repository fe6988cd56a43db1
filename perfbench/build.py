"""Build file of the benchmark: compiles the library sources (src/main/scala
at the repository root) together with the benchmark harness
(perfbench/src/main/scala) with the Scala compiler that ships in the Spark
distribution, into .bench_build/classes. A content hash of every source
skips the compile when nothing changed.

Usage, from the repository root: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/src/main/scala"]


def spark_jars():
    """The jar directory of the Spark distribution: $SPARK_HOME/jars, or the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME)")
    return jars


def classpath(extra=()):
    return ":".join(list(extra) + [os.path.join(spark_jars(), "*")])


def _sources():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench: missing source directory {root}")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles if needed; returns the classes directory."""
    files = _sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
