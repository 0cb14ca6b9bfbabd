#!/usr/bin/env python3
"""Builds the benchmark: the program's Scala sources (src/main/scala) and
the harness (perfbench/src/main/scala) compiled together with scalac
against the jars of the Spark distribution at $SPARK_HOME. No sbt, no
network.

    python3 perfbench/build.py [--test]

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root. A stamp of the source hashes skips an up-to-date build.
--test also builds perfbench/src/test/scala and runs its self-test.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    spark-submit on PATH whose distribution ships the Scala compiler.
    """
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(*dirs):
    found = []
    for d in dirs:
        found += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return found


def compile_to(name, srcs, extra_cp=(), resources=None):
    """Compiles srcs into <out>/<name>, with the files under `resources`
    copied alongside, unless its stamp matches; returns the directory.
    """
    jars = spark_jars()
    res_files = sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                       if os.path.isfile(p)) if resources else []
    h = hashlib.sha256()
    deps = [p + ".stamp" for p in extra_cp]
    for p in srcs + res_files + sorted(os.listdir(jars)) + deps:
        h.update(p.encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    dest = os.path.join(out_dir(), name)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(sorted(glob.glob(os.path.join(jars, "scala-*.jar"))))
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join([os.path.join(jars, "*"), *extra_cp]),
           "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {name}:\n{res.stdout[-4000:]}")
    for p in res_files:
        target = os.path.join(tmp, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copy(p, target)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return dest


def build():
    """Returns the classpath entries (classes dir, Spark jars) of the harness."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not sources(program):
        raise BuildError(f"program sources not found under {program}")
    classes = compile_to("classes", sources(program, os.path.join(HERE, "src", "main", "scala")),
                         resources=os.path.join(ROOT, "src", "main", "resources"))
    return [classes, os.path.join(spark_jars(), "*")]


def self_test():
    cp = build()
    tests = compile_to("test-classes", sources(os.path.join(HERE, "src", "test", "scala")),
                       extra_cp=[cp[0]])
    import run
    return subprocess.run(run.java_cmd([tests] + cp, "perfbench.SelfTest", [],
                                       os.path.join(out_dir(), "self-test"))).returncode


if __name__ == "__main__":
    try:
        if "--test" in sys.argv[1:]:
            sys.exit(self_test())
        print(":".join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
