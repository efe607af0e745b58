"""Build file of the benchmark: compiles the program and the benchmark.

The program is the Scala tree under ``src/main`` at the repository root;
the benchmark is the Scala tree under ``perfbench/src``. Both compile with
the Scala compiler that ships in Spark's jar directory (the same jars the
root build puts on its classpath), so no build tool or network is needed.
Classes land under ``.bench_build/perfbench`` in the checkout, one
directory per tree, each keyed by a content hash of its sources so an
unchanged tree is not rebuilt.

    python3 perfbench/build.py      # prints the classpath to run with
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("no Spark jar directory found (set SPARK_HOME)")
    return jars


def sources(tree):
    files = sorted(glob.glob(os.path.join(ROOT, tree, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {tree}/")
    return files


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_tree(name, tree, classpath, jars, log):
    """Compile one source tree unless its classes are current; returns
    the class directory."""
    files = sources(tree)
    stamp = digest(files, ":".join(classpath))
    dest = os.path.join(OUT, f"{name}-{stamp}")
    if os.path.isdir(dest):
        return dest
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = dest + ".tmp"
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, n))[0]
        for n in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    argfile = os.path.join(OUT, f"{name}.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(classpath), "-d", tmp, "@" + argfile]
    print(f"[build] compiling {len(files)} files of {tree}/", file=log, flush=True)
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed on {tree}/ (exit {done.returncode})")
    os.rename(tmp, dest)
    return dest


def build(log=sys.stderr):
    """Compile program and benchmark; returns the runtime classpath."""
    jars = spark_jars()
    lib = sorted(glob.glob(os.path.join(jars, "*.jar")))
    program = compile_tree("program", os.path.join("src", "main"), lib, jars, log)
    bench = compile_tree("bench", os.path.join("perfbench", "src"), [program] + lib, jars, log)
    return [bench, program, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
