"""Builds the program and the benchmark harness with the Scala compiler
shipped in the Spark distribution, without sbt.

    python3 perfbench/build.py        # from the repository root

Compiles `src/main/scala` into `.bench_build/graft-classes` and
`perfbench/src` into `.bench_build/bench-classes`. Each output carries a
stamp of its sources and is rebuilt only when they change. The program
is compiled as `build.sbt` compiles it: plain scalac, the Spark jars on
the classpath, no extra compiler options.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise SystemExit("perfbench: no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars}")
    return jars


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, out, classpath, extra_stamp=""):
    stamp = _stamp(files, classpath + extra_stamp)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compiling into {out} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def build():
    """Returns the runtime classpath (program, harness, Spark jars)."""
    src = os.path.join("src", "main", "scala")
    files = _sources(src)
    if not files:
        raise SystemExit(f"perfbench: no program sources under {src}")
    jars = os.path.join(spark_jars(), "*")
    graft = os.path.join(BUILD, "graft-classes")
    bench = os.path.join(BUILD, "bench-classes")
    rebuilt = _compile(files, graft, jars)
    resources = os.path.join("src", "main", "resources")
    if rebuilt and os.path.isdir(resources):
        shutil.copytree(resources, graft, dirs_exist_ok=True)
    graft_stamp = open(os.path.join(graft, ".stamp")).read()
    _compile(_sources(os.path.join("perfbench", "src")), bench,
             os.pathsep.join([graft, jars]), graft_stamp)
    return os.pathsep.join([bench, graft, jars])


if __name__ == "__main__":
    print(build())
