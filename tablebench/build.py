"""Build of the benchmark: the program's sources plus the benchmark's client in src/.

Both are compiled with the Scala compiler that ships with Spark
(``$SPARK_HOME/jars``, or the installation whose ``bin/spark-submit`` is on
the PATH), so the build needs no build tool and no network. A stamp over
every source file and this script skips the compile when the classes are
current.

Run on its own: ``python3 tablebench/build.py``.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
OUT = os.path.join(ROOT, ".bench_build", "tablebench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of $SPARK_HOME, else of the first Spark on the PATH that ships a
    Scala compiler (a pip-installed pyspark may come earlier on it)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        d = os.path.join(home, "jars")
        jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar")) \
            if os.path.isdir(d) else []
        if any("scala-compiler" in j for j in jars):
            return jars
    raise BuildError("no Spark with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError(f"the program's sources are missing: no {PROGRAM_SRC}/graft "
                         "(run from a full checkout of the repository)")
    out = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, PROGRAM_RES] + spark_jars())


def build(log=sys.stderr):
    """Compile if stale; return (seconds spent, source stamp)."""
    jars = spark_jars()
    files = sources()
    stamp = _stamp(files, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return 0.0, stamp
    t0 = time.time()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    print(f"tablebench: compiling {len(files)} Scala files (about a minute)", file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + args_file]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return time.time() - t0, stamp


if __name__ == "__main__":
    try:
        secs, _ = build()
    except BuildError as e:
        sys.exit(f"tablebench: {e}")
    print(f"tablebench: classes current ({secs:.1f} s)")
