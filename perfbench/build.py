#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
perfbench/.build/classes with the Scala compiler that ships in the Spark
distribution's jars. Skips the compile when no input changed.

Usage: python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")


def spark_home():
    """SPARK_HOME, or the distribution that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME to a Spark 4 distribution")
    return home


SPARK_JARS = os.path.join(spark_home(), "jars")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files]
    return base, sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def ensure():
    """Compile if needed; return the runtime classpath. Concurrent callers
    wait for one another."""
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return compile_if_changed()


def compile_if_changed():
    srcs = sources()
    res_base, res = resources()
    stamp = os.path.join(OUT, "stamp")
    want = digest(srcs + res)
    cp = f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(CLASSES):
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("build: compile failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(ensure())
