"""Build file of the benchmark package: compiles the program (src/main/scala)
together with the benchmark's JVM side (perfbench/jvm) into one class
directory, using the Scala compiler that ships with Spark's jars. The jar
directory is the one build.sbt names as `unmanagedBase` (or $SPARK_JARS).

The build is skipped when a stamp of every source file matches the last
successful build. Output goes to $CARGO_TARGET_DIR, else .bench_build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_ROOTS = ["src/main/scala", "perfbench/jvm"]


def spark_jars():
    """The Spark jar directory the program is built against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m is None:
        raise RuntimeError("build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def sources():
    found = []
    for root in SOURCE_ROOTS:
        found += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns the class directory. Raises on failure."""
    if not os.path.isdir("src/main/scala") or not os.path.exists("build.sbt"):
        raise RuntimeError("src/main/scala or build.sbt not found: run from the repository root")
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    digest = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise RuntimeError("compilation failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
