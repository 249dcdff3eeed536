#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark harness (perfbench/harness/src) with the Scala
compiler that ships in the Spark distribution, into .bench_build/. The
Spark jars are the ones the repository's build.sbt names as
`unmanagedBase`, unless SPARK_JARS names another directory.

Both steps are skipped when a stamp of the sources' contents matches
the last build, so only the first run in a checkout pays for them.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def _spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if not os.path.exists("build.sbt"):
        raise SystemExit("no build.sbt: run from the root of a checkout")
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase Spark jar directory")
    return m.group(1)


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, files, extra_cp, jars, depends=()):
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    stamp = _stamp(list(files) + list(depends))
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = ":".join(extra_cp + [jars])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build of {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def build():
    """Return the classpath to run with: harness, program, Spark jars."""
    program = _sources("src/main/scala")
    if not program:
        raise SystemExit("no program sources under src/main/scala: "
                         "run from the root of a checkout")
    spark = _spark_jars()
    if not glob.glob(os.path.join(spark, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars in {spark}")
    jars = os.path.join(spark, "*")
    classes = _compile("program", program, [], jars)
    # the harness is rebuilt whenever the program changes, so it never
    # links against stale program classes
    harness = _compile("harness", _sources("perfbench/harness/src"), [classes], jars,
                       depends=program)
    return [os.path.abspath(harness), os.path.abspath(classes), jars]


if __name__ == "__main__":
    print(":".join(build()))
