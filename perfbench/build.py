#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's main sources (src/main/java, src/main/scala)
together with the benchmark's own sources (perfbench/src/main/scala) into
`.bench_build/perfbench/classes`, using javac and the Scala compiler that
ships with the Spark distribution (`$SPARK_HOME/jars`). No sbt, no network.

    python3 perfbench/build.py           # build; a no-op when sources are unchanged
    python3 perfbench/build.py test      # build, then compile and run the unit tests

Run from the root of a checkout.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
TEST_CLASSES = os.path.join(OUT, "test-classes")
STAMP = os.path.join(OUT, "classes.stamp")

MAIN_SOURCES = [os.path.join(ROOT, "src", "main", "java"),
                os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(BENCH_DIR, "src", "main", "scala")]
TEST_SOURCES = [os.path.join(BENCH_DIR, "src", "test", "scala")]
# JVMs started here write nothing outside the checkout (no /tmp/hsperfdata)
NO_PERF_DATA = "-XX:-UsePerfData"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def sources(dirs, ext):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(ext))
    return sorted(out)


def has_vector_module():
    """Whether this JVM resolves jdk.incubator.vector (the optional SIMD
    kernel compiles only then, as in the repository's build.sbt)."""
    r = subprocess.run(["java", NO_PERF_DATA, "--add-modules", "jdk.incubator.vector", "-version"],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return r.returncode == 0


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run(cmd):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("command failed: " + " ".join(cmd[:3]) + " ...")


def compile_scala(srcs, out, classpath):
    run(["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
         "-d", out, "-cp", classpath] + srcs)


def build():
    """Compile when the sources changed since the last build; returns the
    runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    java_srcs = sources(MAIN_SOURCES, ".java")
    scala_srcs = sources(MAIN_SOURCES, ".scala")
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in scala_srcs):
        raise BuildError("no program sources under src/main: run from a full checkout")
    vector = has_vector_module()
    if not vector:
        java_srcs = [f for f in java_srcs if os.path.basename(f) != "DotSimd.java"]
    stamp = digest(java_srcs + scala_srcs) + (" vector" if vector else "")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES + os.pathsep + jars
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if java_srcs:
        run(["javac", "-J" + NO_PERF_DATA, "-encoding", "UTF-8", "-nowarn", "-d", CLASSES, "-cp", jars]
            + (["--add-modules", "jdk.incubator.vector"] if vector else []) + java_srcs)
    compile_scala(scala_srcs, CLASSES, CLASSES + os.pathsep + jars)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return CLASSES + os.pathsep + jars


def test():
    """Compile the unit tests against the built classes and run them."""
    cp = build()
    shutil.rmtree(TEST_CLASSES, ignore_errors=True)
    os.makedirs(TEST_CLASSES)
    compile_scala(sources(TEST_SOURCES, ".scala"), TEST_CLASSES, cp)
    return subprocess.run(["java", NO_PERF_DATA, "-cp", TEST_CLASSES + os.pathsep + cp,
                           "perfbench.UnitTests"]).returncode


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        build()
    except BuildError as e:
        sys.stderr.write(f"perfbench build: {e}\n")
        sys.exit(2)
