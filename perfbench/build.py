#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own JVM side (`perfbench/scala`) into `.bench_build/perfbench.jar`
with the Scala compiler that ships among the Spark jars, so no build tool
or network is needed. A stamp over every source file's path and content
skips the compile when nothing changed.

The classes go into a jar, not a directory, so the JVM's class-data-sharing
archive (see `class_archive`) may cover the whole class path.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/scala")

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {d}")
        for base, _, files in os.walk(top):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root="."):
    """Compile if stale; return (classpath, build stamp)."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    jar = os.path.join(root, BUILD_DIR, "perfbench.jar")
    stamp_file = os.path.join(root, BUILD_DIR, "perfbench.stamp")
    classpath = f"{os.path.abspath(jar)}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", out, "-nowarn", "-d", out, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar, "w") as z:
        for base, _, files in os.walk(out):
            for f in files:
                path = os.path.join(base, f)
                z.write(path, os.path.relpath(path, out))
    shutil.rmtree(out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, stamp


def class_archive(stamp):
    """JVM options for a class-data-sharing archive of this build: the first
    run writes it at exit, later runs map it, which takes the loading and
    verifying of Spark's classes out of every later run's set-up. Runs
    without an archive measure the same work, only with a slower set-up."""
    path = os.path.abspath(os.path.join(BUILD_DIR, f"classes-{stamp[:16]}.jsa"))
    if os.path.exists(path):
        return [f"-XX:SharedArchiveFile={path}"], None
    for old in os.listdir(BUILD_DIR):
        if old.endswith(".jsa") or old.endswith(".jsa.part"):
            os.remove(os.path.join(BUILD_DIR, old))
    return [f"-XX:ArchiveClassesAtExit={path}.part"], path


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
