#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) with the Scala compiler that ships in Spark's
jars, and copies the engine's resources next to the classes. The output
lives under the build directory ($CARGO_TARGET_DIR, default .bench_build),
keyed by a hash of every input file, so an unchanged tree is built once.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first Spark install on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise BuildError(f"no Spark with scala-compiler {SCALA_VERSION} in its jars: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.isfile(exe):
        raise BuildError("no java executable: set JAVA_HOME or put java on PATH")
    return exe


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def ensure_built(root):
    """Return the classes directory for the current sources, building it if needed."""
    engine = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    bench = os.path.join(root, "perfbench", "src")
    sources = _files(engine, ".scala") + _files(bench, ".scala")
    if not _files(engine, ".scala"):
        raise BuildError("engine sources not found under src/main/scala: "
                         "run the benchmark from the root of a graft checkout")
    jars = spark_jars()
    inputs = sources + (_files(resources) if os.path.isdir(resources) else [])
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in inputs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
             for m in ("compiler", "library", "reflect")]
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + sources
    print(f"[perfbench] compiling {len(sources)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
