#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark
harness from source with the Scala compiler that ships in Spark's jar
directory, into the build directory of the checkout.

The output directory is keyed by a digest of every source file, so a
checkout compiles once and later runs reuse the classes.

Usage: python3 perfbench/build.py        (prints the class directories)
"""
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanaged jar
    directory the project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: cannot find Spark's jar directory (set SPARK_HOME)")


def sources(sub):
    out = []
    for d, _, files in os.walk(os.path.join(ROOT, sub)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed for {out} (see {log.name})")


def build():
    """Returns (spark jar dir, [class dirs]) — compiling only when a
    source changed since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("build: no program sources (src/main/scala) in this checkout")
    jars = spark_jars()
    prog = sources("src/main")
    harness = sources("perfbench/harness")
    key = digest(prog + harness + [os.path.abspath(__file__)])
    dest = os.path.join(build_dir(), "classes-" + key)
    dirs = [os.path.join(dest, "program"), os.path.join(dest, "harness")]
    if os.path.exists(os.path.join(dest, ".ok")):
        return jars, dirs
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    with open(os.path.join(dest, "build.log"), "w") as log:
        scalac(jars, None, dirs[0], prog, log)
        scalac(jars, dirs[0], dirs[1], harness, log)
    open(os.path.join(dest, ".ok"), "w").close()
    return jars, dirs


if __name__ == "__main__":
    _, d = build()
    print("\n".join(d))
