#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's main sources (`src/main/scala`, resources from
`src/main/resources`) together with the benchmark's own sources
(`perfbench/src`) into `<build dir>/classes`, using the Scala compiler that
ships among the Spark jars the repo's `build.sbt` names as `unmanagedBase`.
Nothing outside the checkout is written. A stamp over every source file
skips the compile when nothing changed.

Usage: python3 perfbench/build.py            (prints the classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory `build.sbt` compiles against (`unmanagedBase`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {ROOT}: not a checkout of the engine")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = ([m.group(1)] if m else []) + (
        [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else [])
    for d in cands:
        if os.path.isdir(d) and any(n.startswith("scala-compiler") for n in os.listdir(d)):
            return d
    raise BuildError(f"no Spark jar directory with a Scala compiler among {cands}")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"engine sources missing: {main}")
    out = []
    for base in (main, os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, n) for n in files if n.endswith(".scala")]
    return sorted(out)


def stamp_of(paths, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    res = os.path.join(ROOT, "src", "main", "resources")
    extra = []
    for d, _, files in os.walk(res):
        extra += [os.path.join(d, n) for n in files]
    for p in paths + sorted(extra) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile if needed; returns the runtime classpath string."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(stamp_file) and open(stamp_file).read().strip() == stamp:
        return cp
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jar_glob = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jar_glob, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", jar_glob, "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
