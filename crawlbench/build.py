#!/usr/bin/env python3
"""Builds the program and the benchmark into .bench_build/classes-<hash>.

The benchmark compiles the repository's main sources (src/main/scala)
together with its own (crawlbench/src) with the Scala 2.13 compiler that
ships in the Spark distribution ($SPARK_HOME/jars, or the one next to
`spark-submit` on PATH), against the same jars the sbt build uses. A build is
reused while the sources hash to the same value.

    python3 crawlbench/build.py        # build (or reuse) and print the dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
# a fixed heap (-Xms = -Xmx): no growth decisions, so peak RSS repeats run to run
HEAP = "2g"
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_SRC = os.path.join(HERE, "src")
# matches build.sbt's javaOptions: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no program sources under {main}")
    out = []
    for base in (main, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_hash(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure(root):
    """Returns the classes dir for the current sources, compiling if needed."""
    digest = source_hash(root)[:20]
    base = os.path.join(root, BUILD_DIR)
    classes = os.path.join(base, f"classes-{digest}")
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + sources(root)
    res = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + (res.stdout + res.stderr)[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in os.listdir(base):
        if old.startswith("classes-") and os.path.join(base, old) != tmp:
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def java_cmd(root, classes):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM writes nothing outside the checkout
    return ["java", "-XX:-UsePerfData"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.stderr.write(f"{e}\n")
        sys.exit(2)
