#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the harness
(perfbench/src) with the Scala compiler that ships with Spark, into
.bench_build/perfbench-<hash>/, where <hash> covers every source file, so
a changed program is rebuilt and an unchanged one is not.

Usage, from the repository root:  python3 perfbench/build.py
Prints the classes directory. Spark's jars and the Scala version are read
from build.sbt (`unmanagedBase`, `scalaVersion`); the jars default to
$SPARK_HOME/jars.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _sbt_setting(root, pattern):
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(pattern, f.read())
        return m.group(1) if m else None
    except OSError:
        return None


def spark_jars(root):
    return (_sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
            or os.path.join(os.environ.get("SPARK_HOME", ""), "jars"))


def scala_version(root):
    return _sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"') or "2.13.17"


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, own


def build(root, log=sys.stderr):
    main, own = sources(root)
    if not main:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    scala = scala_version(root)
    h = hashlib.sha256(scala.encode())
    for p in main + own + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    out = os.path.join(out_root, f"perfbench-{h.hexdigest()[:16]}")
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, ".complete")):
        return classes
    for old in glob.glob(os.path.join(out_root, "perfbench-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(os.path.join(tmp, "classes"))
    jars = spark_jars(root)
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{scala}.jar")
                        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + own))
    print(f"[perfbench] compiling {len(main)} program and {len(own)} harness files", file=log)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", os.path.join(tmp, "classes"),
         "-classpath", os.path.join(jars, "*"), f"@{argfile}"],
        stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compile failed ({r.returncode})")
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, os.path.join(tmp, "classes"), dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
