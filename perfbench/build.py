#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources, then the
benchmark's own Scala sources against them, with the Scala compiler that
ships in Spark's jars directory. Output goes to perfbench/.build; each stage is
skipped when a hash of its sources matches the last successful build.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("cannot find Spark's jars directory with a Scala "
                         "compiler (set SPARK_HOME)")
    return jars


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_stage(name, files, classpath, jars):
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    key = digest(files, classpath)
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    log = os.path.join(BUILD, name + ".log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise BuildError(f"compiling {name} failed (see {log})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def build():
    """Returns the runtime classpath, compiling what changed."""
    if not os.path.isdir(GRAFT_SRC):
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    graft = compile_stage("graft", scala_files(GRAFT_SRC), jar_cp, jars)
    bench = compile_stage("bench", scala_files(BENCH_SRC),
                          os.pathsep.join([graft, jar_cp]), jars)
    return os.pathsep.join([bench, graft, GRAFT_RES, jar_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
