"""Builds the program and the benchmark's JVM side from source.

Compiles ``src/main/scala`` (the program) and ``perfbench/scala`` (the
benchmark's JVM side) with the Scala compiler that ships among Spark's jars, into
``.bench_build/perfbench/``. Each stage is skipped when a hash of its
sources and compiler matches the stamp left by the last build.

Run alone:  python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jars next to a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-2.13*.jar")):
            return os.path.join(home, "jars")
    return os.path.join(homes[0], "jars")


def _sources(d):
    return sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, srcs, classpath, log):
    dest = os.path.join(OUT, name)
    compiler = [glob.glob(os.path.join(spark_jars(), "scala-%s-2.13*.jar" % p))[0]
                for p in ("compiler", "library", "reflect")]
    stamp = os.path.join(OUT, name + ".stamp")
    digest = _digest(srcs, classpath + ":".join(compiler))
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", dest] + srcs
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise RuntimeError("compiling %s failed (exit %d), see %s" % (name, rc, log))
    with open(stamp, "w") as f:
        f.write(digest)
    return dest


def build():
    """Returns the run-time classpath of the benchmark's JVM side."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise RuntimeError("no program sources at %s: run from the repository root" % main)
    jars = os.path.join(spark_jars(), "*")
    if not glob.glob(jars):
        raise RuntimeError("no Spark jars under %s (set SPARK_HOME)" % spark_jars())
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    program = _compile("program", _sources(os.path.join("src", "main", "scala")), jars, log)
    bench = _compile("bench", _sources(os.path.join("perfbench", "scala")),
                     os.pathsep.join([program, jars]), log)
    return os.pathsep.join([bench, program, jars])


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        sys.exit(str(e))
