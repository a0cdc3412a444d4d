"""Build file of the benchmark: compiles graft's sources together with the
harness in `perfbench/scala` into `perfbench/.build/classes`, using the Scala
compiler that ships in the Spark distribution the repository builds against
(`$SPARK_HOME/jars`, else the `unmanagedBase` named in the root build.sbt).

    python3 perfbench/build.py        # prints the classpath to run with

A content stamp over every source skips the compile when nothing changed.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
            return m.group(1)
    raise BuildError("no Spark jars found: set SPARK_HOME or keep unmanagedBase in build.sbt")


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft):
        raise BuildError(f"graft sources not found under {os.path.relpath(graft, os.getcwd())}")
    found = []
    for base in (graft, os.path.join(BENCH, "scala")):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if the sources changed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
