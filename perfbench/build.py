#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes, with the Scala compiler that ships among the Spark
jars the program builds against (build.sbt's `unmanagedBase`, or
$SPARK_HOME/jars). No dependency resolution and no network: everything on
the classpath is already on disk.

    python3 perfbench/build.py        # from the repository root

Rebuilds only when a source file changed (content hash stamp).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Directory of the Spark jars: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase := file("...")`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        sys.exit("build: no Spark jars (set SPARK_HOME or unmanagedBase in build.sbt)")
    return m.group(1)


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {d}")
        for root, _, files in os.walk(d):
            out += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; returns the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*"), "@" + args_file],
        check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
