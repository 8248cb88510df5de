#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the harness
(perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into .perfbench/build/classes at the repository root. A build is
reused while the sources and the jars are unchanged.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(OUT, "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "fingerprint")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def compile_classes(srcs, jars):
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def build():
    """Returns (classes dir, jars dir, source fingerprint); builds first if stale."""
    jars = spark_jars()
    srcs = sources()
    fp = fingerprint(srcs, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return CLASSES, jars, fp
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    compile_classes(srcs, jars)
    with open(STAMP, "w") as f:
        f.write(fp)
    return CLASSES, jars, fp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
