#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the benchmark's JVM half (`perfbench/scala`) into
`.bench_build/classes`, using the Scala compiler that ships in Spark's
jar directory. A stamp over every source file's path and bytes skips
the compile when nothing changed.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# the module opens Spark needs on JDK 17 outside spark-submit (the same
# list as the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME or PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no Spark installation (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not lib:
        raise BuildError("no library sources under src/main/scala")
    return lib + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    jars = spark_jars()
    stamp = hashlib.sha256()
    for s in srcs:
        stamp.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            stamp.update(hashlib.sha256(f.read()).digest())
    digest = stamp.hexdigest()
    out = os.path.join(root, ".bench_build", "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
