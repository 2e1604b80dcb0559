#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala) and
the benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/perfbench/classes.

Run from the root of a checkout:  python3 perfbench/build.py
A stamp of every source's path and content skips an up-to-date build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
# the program and the benchmark compile separately, so a benchmark change
# does not recompile the program
# (stage, Scala source root, resource root copied beside the classes)
STAGES = [("program", "src/main/scala", "src/main/resources"), ("bench", "perfbench/src", None)]


def spark_jars():
    """Spark's jar directory holding the Scala compiler: $SPARK_HOME/jars,
    else the `jars` directory beside a `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    return os.path.join(homes[0], "jars")


def sources(root):
    found = []
    for dirpath, _, files in os.walk(root):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classes(stage):
    return os.path.join(OUT, "classes-" + stage)


def classpath():
    return os.pathsep.join([classes(s) for s, _, _ in STAGES] + [os.path.join(spark_jars(), "*")])


def build():
    """Compile if any source changed; returns 0 on success."""
    if not os.path.isfile("src/main/scala/graft/Lance.scala"):
        print("perfbench: no program sources under src/main/scala; run from a checkout root",
              file=sys.stderr)
        return 2
    jars = spark_jars()
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        print(f"perfbench: no Scala compiler in {jars}", file=sys.stderr)
        return 2
    scala_cp = os.pathsep.join(compiler + glob.glob(os.path.join(jars, "scala-library-*.jar"))
                               + glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    deps = []
    for stage, root, resources in STAGES:
        srcs = sources(root)
        for p in srcs + ([resources] if resources else []):  # a stage's stamp covers every earlier stage too
            h.update(p.encode())
            if os.path.isfile(p):
                with open(p, "rb") as f:
                    h.update(f.read())
        out, stamp = classes(stage), classes(stage) + ".stamp"
        if not (os.path.isfile(stamp) and open(stamp).read() == h.hexdigest()):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            cp = os.pathsep.join(deps + [os.path.join(jars, "*")])
            cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", scala_cp, "scala.tools.nsc.Main",
                   "-nowarn", "-usejavacp", "-classpath", cp, "-d", out] + srcs
            print(f"perfbench: compiling {len(srcs)} {stage} sources", file=sys.stderr)
            r = subprocess.run(cmd, stdout=sys.stderr, timeout=600)
            if r.returncode != 0:
                return r.returncode
            if resources and os.path.isdir(resources):
                shutil.copytree(resources, out, dirs_exist_ok=True)
            with open(stamp, "w") as f:
                f.write(h.hexdigest())
        deps.append(out)
    return 0


if __name__ == "__main__":
    sys.exit(build())
