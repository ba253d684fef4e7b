"""Build file of the benchmark: compiles the program (``src/main/scala``) and
the benchmark's own Scala sources (``perfbench/src``) into ``.bench_build/classes`` with
the Scala compiler that ships with Spark.

    python3 perfbench/build.py          # from the repository root

The build is skipped when the sources are unchanged since the last one.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars (Scala compiler and library included)."""
    # the same Spark installation the sbt build compiles against
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError(f"no program sources under {os.path.join(root, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + bench


def ensure(root):
    """Compile if needed; return the classpath the benchmark runs with."""
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    classpath = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    # no perf-data file and no temp files outside the checkout
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(root, BUILD_DIR)}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(os.path.join(staging, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
