#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources and
the benchmark's Scala sources with scalac into the build directory, and
prints the classpath a run uses.

    python3 perfbench/build.py            # build if sources changed, print classpath

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`,
relative to the checkout root. A build is reused while the digest of every
source file, the Spark jar listing and the Java version stay the same.
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
BENCH_SRC = os.path.join(HERE, "scala")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: the repo build's `unmanagedBase`, the jars
    graft itself is compiled against."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase (Spark jar directory)")
    return m.group(1)


def scala_version(jars):
    libs = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    if not libs:
        raise BuildError("no scala-library jar among the Spark jars")
    return re.search(r"scala-library-(.+)\.jar", os.path.basename(libs[0])).group(1)


def compiler_jars(version):
    """scala-compiler and scala-reflect of the Spark jars' Scala version,
    from the local coursier cache (the toolchain sbt resolved)."""
    cache = os.environ.get("COURSIER_CACHE") or os.path.expanduser("~/.cache/coursier")
    found = {}
    for name in ("scala-compiler", "scala-reflect"):
        hits = glob.glob(os.path.join(cache, "**", f"{name}-{version}.jar"), recursive=True)
        if not hits:
            raise BuildError(f"{name}-{version}.jar not found in the coursier cache")
        found[name] = hits[0]
    return found["scala-compiler"], found["scala-reflect"]


def sources():
    main = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    if not main:
        raise BuildError("no graft sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    return main, bench


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    h.update(java.stderr.encode())
    return h.hexdigest()


def classpath(classes, jars):
    return os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])


def build(log=sys.stderr):
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    main, bench = sources()
    key = digest(main + bench, jars)
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(classes, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classpath(classes, jars)
    version = scala_version(jars)
    comp, refl = compiler_jars(version)
    lib = os.path.join(jars, f"scala-library-{version}.jar")
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join([comp, refl, lib]),
           "scala.tools.nsc.Main", "-nowarn", "-cp", os.path.join(jars, "*"),
           "-d", tmp] + main + bench
    print(f"[perfbench] compiling {len(main)} graft + {len(bench)} benchmark sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    with open(os.path.join(tmp, ".digest"), "w") as fh:
        fh.write(key)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classpath(classes, jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
