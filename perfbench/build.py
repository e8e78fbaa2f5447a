"""Compiles the engine (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler shipped in the Spark jars.

The output goes to `<build>/classes`, stamped with a hash of every source
file, so an unchanged tree is not rebuilt.  Run it alone with
`python3 perfbench/build.py`; `run.py` calls it before every run.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: `$SPARK_HOME/jars`, else the
    `unmanagedBase` the repo's own build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def engine_sources():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise BuildError("engine sources (src/main/scala) not found")
    return srcs


def compile_stage(name, srcs, classpath, salt=""):
    """scalac `srcs` into `<build>/<name>` unless its source stamp matches."""
    h = hashlib.sha256(salt.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", classpath, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", out, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp


def build():
    """Compile what changed; return (runtime classpath, build stamp)."""
    os.makedirs(BUILD, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    engine, e_stamp = compile_stage("classes-engine", engine_sources(), jars)
    bench, b_stamp = compile_stage(
        "classes-bench", sorted(glob.glob(os.path.join(HERE, "src", "*.scala"))),
        engine + os.pathsep + jars, salt=e_stamp)
    return os.pathsep.join([bench, engine, jars]), b_stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
