#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) into .bench_build/classes with the Scala
compiler that ships with Spark, and copies the engine's resources.

    python3 perfbench/build.py        # build if any source changed

The build is skipped when the digest of every source and resource matches
the one recorded by the last successful build.
"""
import hashlib
import glob
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt names as its unmanaged jar base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources not found under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res_root = os.path.join(ROOT, "src/main/resources")
    resources = sorted(p for p in glob.glob(os.path.join(res_root, "**/*"), recursive=True)
                       if os.path.isfile(p))
    return engine + bench, res_root, resources


def digest(paths, jars):
    h = hashlib.sha256(jars.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure(log=sys.stderr):
    """Build if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs, res_root, resources = sources()
    want = digest(srcs + resources, jars)
    stamp = os.path.join(CLASSES, ".digest")
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        def one(pattern):
            found = sorted(glob.glob(os.path.join(jars, pattern)))
            if not found:
                raise BuildError(f"{pattern} not found in {jars}")
            return found[-1]
        compiler_cp = os.pathsep.join(one(p) for p in
                                      ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
                            "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile],
                           stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError(f"scalac exited with {r.returncode}")
        for p in resources:
            dst = os.path.join(tmp, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        with open(os.path.join(tmp, ".digest"), "w") as f:
            f.write(want)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
    return os.pathsep.join([CLASSES, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
