#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own Scala sources into one jar.

It calls the Scala compiler that ships with Spark directly (no sbt), so a
build reads only the checkout and the Spark/JDK installation and writes only
under `.bench_build/` in the checkout. A content stamp of every source file
skips the build when nothing changed.

    python3 perfbench/build.py          # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(CLASSES, "STAMP")
JAR = os.path.join(CLASSES, "perfbench.jar")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCES = os.path.join("src", "main", "resources")
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (its launcher's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: no Spark installation found (set SPARK_HOME)")
    return home


def spark_jars():
    jars_dir = os.path.join(spark_home(), "jars")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise SystemExit("build: no java on PATH")
    return found


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath):
    """The benchmark JVM's command prefix: fixed heap, nproc processors and
    the module opens."""
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-XX:ActiveProcessorCount={nproc()}", "-Djts.overlay=ng", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(here, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath)]


def sources():
    out = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: missing source directory {root} (run from a checkout root)")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generator_key():
    """Hash of the benchmark's own sources: the cache key of prepared inputs."""
    files = [f for f in sources() if f.startswith(SOURCE_ROOTS[1])]
    return stamp_of(files)[:16]


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    files = sources()
    jars = spark_jars()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return [JAR] + jars
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + files))
    t0 = time.time()
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    rc = subprocess.call(
        [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {rc}")
    # one jar with the classes and the engine's resources
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for base in (tmp, RESOURCES):
            for d, _, names in os.walk(base):
                for n in sorted(names):
                    if base == tmp and not n.endswith(".class"):
                        continue
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), base))
    for d in os.listdir(tmp):
        if os.path.isdir(os.path.join(tmp, d)):
            shutil.rmtree(os.path.join(tmp, d))
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"build: done in {time.time() - t0:.1f} s", file=sys.stderr)
    return [JAR] + jars


if __name__ == "__main__":
    build()
