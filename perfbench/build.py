"""Builds the engine and the benchmark harness once per source tree.

Compiles every Scala source under src/main/scala together with
perfbench/scala with the Scala compiler that ships in the Spark jar
directory (build.sbt's unmanagedBase), into
.bench_build/perfbench/classes-<key>, where <key> hashes the sources and this
file. A later run with the same sources reuses the classes, so no compile
step runs inside a measured run. Builds of other source trees are kept, so
runs of two trees that alternate in one checkout each compile once. sbt is
not used; build.sbt's JVM flags are mirrored in run.py.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALAC_OPTS = ["-nowarn"]


class BuildError(Exception):
    pass


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def spark_jars():
    """The Spark jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError as e:
        raise BuildError(f"cannot read build.sbt: {e}")
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath():
    return os.path.join(spark_jars(), "*")


def ensure_built(log=sys.stderr):
    """Returns the classes directory, compiling first if this source tree has none."""
    srcs = sources()
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {spark_jars()}")
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(" ".join(SCALAC_OPTS).encode())
    out = os.path.join(BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_ROOT, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", classpath(), "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", tmp, "-classpath", classpath(), "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
