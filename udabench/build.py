#!/usr/bin/env python3
"""Build file of the benchmark's JVM package.

Compiles the program (src/main/scala, plus src/main/resources), then
the benchmark harness (udabench/src) against it, with the Scala
compiler that ships among Spark's jars. Each build is keyed by a hash
of its source files, so an unchanged tree reuses its classes. Run from
the repository root:

    python3 udabench/build.py        # prints the class path

All compiler output goes to stderr.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BUILD_ROOT = os.path.join(".udabench", "build")
PROGRAM_DIRS = ["src/main/scala", "src/main/resources"]
HARNESS_DIRS = ["udabench/src"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("udabench: cannot locate Spark's jars")
    return m.group(1)


def sources(dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_into(name, files, classpath):
    """Compiles `files` into .udabench/build/<name>/classes, unless that
    build exists; returns (class directory, seconds spent)."""
    out = os.path.join(BUILD_ROOT, name, "classes")
    if os.path.isdir(out):
        return out, 0.0
    t0 = time.time()
    tmp = os.path.join(BUILD_ROOT, name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [p for p in files if p.endswith(".scala")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    print(f"udabench: compiling {len(scala)} Scala files ({name})",
          file=sys.stderr, flush=True)
    r = subprocess.run(cmd + scala, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"udabench: compile failed ({r.returncode})")
    for p in files:
        if not p.endswith(".scala"):  # resources ride along
            rel = os.path.relpath(p, "src/main/resources")
            os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
            shutil.copy(p, os.path.join(tmp, rel))
    # of each kind, only the newest build is kept
    kind = name.split("-")[0]
    for old in os.listdir(BUILD_ROOT):
        if old.startswith(kind + "-") and not old.endswith(".tmp"):
            shutil.rmtree(os.path.join(BUILD_ROOT, old), ignore_errors=True)
    os.makedirs(os.path.join(BUILD_ROOT, name))
    os.rename(tmp, out)
    return out, time.time() - t0


def build():
    """Builds the program, then the harness against it. Returns (class
    path, seconds spent compiling)."""
    if not os.path.isdir("src/main/scala"):
        sys.exit("udabench: no program sources (src/main/scala) here")
    os.makedirs(BUILD_ROOT, exist_ok=True)
    prog_files = sources(PROGRAM_DIRS)
    prog_key = digest(prog_files)
    prog, t1 = compile_into(f"program-{prog_key}", prog_files, None)
    harness_files = sources(HARNESS_DIRS)
    harness, t2 = compile_into(
        f"harness-{digest(harness_files, prog_key)}", harness_files,
        os.path.abspath(prog))
    return os.pathsep.join(os.path.abspath(p) for p in (harness, prog)), t1 + t2


if __name__ == "__main__":
    print(build()[0])
