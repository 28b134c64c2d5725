"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/scala`)
into `.bench_build/classes`, with the Scala compiler that ships in the
Spark distribution. A stamp of the sources' content hash skips the
compile when nothing changed.

    python3 perfbench/build.py            # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala"))


def spark_jars():
    """The Spark distribution's jars: the program's class path and the
    Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise RuntimeError("set SPARK_HOME to a Spark 4.1 distribution")
    return os.path.join(home, "jars", "*")


def classpath():
    return os.pathsep.join((CLASSES, spark_jars()))


def sources():
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def build(log=sys.stderr):
    """Compiles if the sources changed; raises on a failed compile."""
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise RuntimeError(f"no program sources under {SOURCE_DIRS[0]}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    # scalac puts "." on its class path: run it in the (empty) output
    # directory so the repository's directories never read as packages
    r = subprocess.run(cmd, cwd=CLASSES, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    build()
