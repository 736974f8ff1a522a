#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's
own sources (perfbench/src/main/scala) with the Scala compiler that
ships in the Spark distribution ($SPARK_HOME/jars, default
/opt/spark/jars, the jar set build.sbt compiles against), so the
build needs no sbt, no dependency resolution and no network. Output
goes to .perfbench/build/<source digest>/ under the checkout root and
is reused while no source changes.

Usage: python3 perfbench/build.py  (from the checkout root); prints
the runtime classpath.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src/main/scala"]


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def sources(root):
    found = sorted(p for d in SOURCE_DIRS for p in glob.glob(
        os.path.join(root, d, "**", "*.scala"), recursive=True))
    if not any("/src/main/scala/graft/" in p for p in found):
        raise SystemExit(f"build: no program sources under {root}/src/main/scala")
    return found


def build(root):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".perfbench", "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = f"{classes}:{jars}/*"
    if os.path.isfile(os.path.join(out, "ok")):
        return cp
    shutil.rmtree(os.path.join(root, ".perfbench", "build"), ignore_errors=True)
    os.makedirs(classes)
    listing = os.path.join(out, "sources.txt")
    with open(listing, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, "-classpath", f"{jars}/*", "@" + listing]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    open(os.path.join(out, "ok"), "w").close()
    return cp


if __name__ == "__main__":
    print(build(os.getcwd()))
